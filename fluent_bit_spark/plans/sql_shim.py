"""Stream-processor SQL dialect shim (SURVEY.md §2.7, §3.2).

The reference embeds a small SQL engine (upstream:src/stream_processor/
parser/sql.y, sql.l; flb_sp_parser.c) with a dialect that is ANSI SQL
plus four extensions:

    CREATE STREAM name [WITH (tag='t')] AS SELECT …;
    … FROM STREAM:other | TAG:'pattern'
    … WINDOW TUMBLING (N SECOND) | HOPPING (N SECOND, ADVANCE BY M SECOND)
    RECORD_TAG(), RECORD_TIME(), @record.contains(key)

Rather than re-implement a SQL engine (the anti-pattern — Spark SQL is
a full parser+analyzer+optimizer, upstream executes its AST with zero
rewrites), this shim TRANSLATES the dialect to Spark SQL text and
delegates: STREAM:/TAG: FROM-clauses become registered temp views
(TAG:'pat' = the tagged frame filtered by the router's glob compiler),
WINDOW clauses are rewritten into ``GROUP BY window(ts, …)`` with the
window start spliced into the SELECT list, and the record functions
become plain column references. Everything downstream — predicate
pushdown, partial aggregation, codegen — is Catalyst's.

The same translated text runs unchanged on a streaming DataFrame view
(Structured Streaming shares the SQL surface), where the reference's
processing-time flush becomes an event-time window + watermark.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from ..operators.router import Route, match_predicate

_UNIT_SEC = {"SECOND": 1, "MINUTE": 60, "HOUR": 3600}

_CREATE_RE = re.compile(
    r"^\s*CREATE\s+STREAM\s+(?P<name>\w+)\s*"
    r"(?:WITH\s*\((?P<props>[^)]*)\)\s*)?AS\s+(?P<select>.+?);?\s*$",
    re.IGNORECASE | re.DOTALL)
_CREATE_SNAP_RE = re.compile(
    r"^\s*CREATE\s+SNAPSHOT\s+(?P<name>\w+)\s*"
    r"(?:WITH\s*\((?P<props>[^)]*)\)\s*)?AS\s+(?P<select>.+?);?\s*$",
    re.IGNORECASE | re.DOTALL)
_FLUSH_SNAP_RE = re.compile(
    r"^\s*FLUSH\s+SNAPSHOT\s+(?P<name>\w+)\s+WHEN\s+(?P<cond>.+?);?\s*$",
    re.IGNORECASE | re.DOTALL)
_FROM_STREAM_RE = re.compile(r"\bSTREAM:(\w+)", re.IGNORECASE)
# Engine-extension verbs for the token-pipeline operators
# (operators/tokens.py) — no upstream analogue (flb's SP stops at
# aggregates); the dialect shape follows the CREATE STREAM grammar so
# a [STREAM_TASK] Exec can drive the token ops from config.
_PACK_RE = re.compile(
    r"^\s*PACK\s+(?P<src>STREAM:\w+|TAG:'[^']*')\s+"
    r"INTO\s+(?P<ctx>\d+)\s+TOKENS"
    r"(?P<nosplit>\s+NOSPLIT)?"
    r"(?:\s+PARTITION\s+BY\s+(?P<part>\w+))?"
    r"(?:\s+ORDER\s+BY\s+(?P<order>HASH\(\s*\w+\s*\)|\w+))?"
    r"(?:\s+SEP\s+(?P<sep>-?\d+))?\s*;?\s*$",
    re.IGNORECASE)
_SCORE_RE = re.compile(
    r"^\s*SCORE\s+SURPRISAL\s+(?P<src>STREAM:\w+|TAG:'[^']*')"
    r"(?:\s+TOKENS\s+(?P<col>\w+))?"
    r"(?:\s+ORDER\s+(?P<order>\d+))?"
    r"(?:\s+(?P<kn>KN)(?:\s+DISCOUNT\s+(?P<disc>\d+))?)?"
    r"(?:\s+(?P<backoff>BACKOFF\s+)?"
    r"TRAIN\s+(?P<train>STREAM:\w+|TAG:'[^']*'))?"
    r"\s*;?\s*$",
    re.IGNORECASE)
_SPLIT_RE = re.compile(
    r"^\s*SPLIT\s+(?P<src>STREAM:\w+|TAG:'[^']*')\s+"
    r"HOLDOUT\s+(?P<pm>\d+)"
    r"(?:\s+BY\s+(?P<grp>\w+))?(?:\s+KEY\s+(?P<key>\w+))?\s*;?\s*$",
    re.IGNORECASE)
_HEAVY_RE = re.compile(
    r"^\s*HEAVY\s+KEYS\s+(?P<src>STREAM:\w+|TAG:'[^']*')\s+"
    r"KEY\s+(?P<key>\w+)\s+MIN\s+(?P<min>\d+)"
    r"(?:\s+WIDTH\s+(?P<width>\d+))?(?:\s+DEPTH\s+(?P<depth>\d+))?"
    r"\s*;?\s*$",
    re.IGNORECASE)
_AUDIT_RE = re.compile(
    r"^\s*AUDIT\s+(?P<kind>ZIPF|VOCAB|DISTINCT|DRIFT)\s+"
    r"(?P<src>STREAM:\w+|TAG:'[^']*')"
    r"(?:\s+VS\s+(?P<vs>STREAM:\w+|TAG:'[^']*'))?"
    r"(?:\s+KEY\s+(?P<key>\w+))?(?:\s+BY\s+(?P<by>\w+))?"
    r"(?:\s+TOKENS\s+(?P<col>\w+))?(?:\s+TOP\s+(?P<k>\d+))?"
    r"(?:\s+P\s+(?P<p>\d+))?\s*;?\s*$",
    re.IGNORECASE)
_RESAMPLE_RE = re.compile(
    r"^\s*RESAMPLE\s+(?P<src>STREAM:\w+|TAG:'[^']*')\s+"
    r"TARGET\s+(?P<target>STREAM:\w+|TAG:'[^']*')\s+"
    r"TOP\s+(?P<n>\d+)"
    r"(?:\s+TOKENS\s+(?P<col>\w+))?"
    r"(?:\s+BUCKETS\s+(?P<k>\d+))?"
    r"(?:\s+SEED\s+'(?P<seed>[^']*)')?\s*;?\s*$",
    re.IGNORECASE)
_FIM_RE = re.compile(
    r"^\s*FIM\s+(?P<src>STREAM:\w+|TAG:'[^']*')"
    r"(?:\s+RATE\s+(?P<rate>\d+))?(?:\s+SPM\s+(?P<spm>\d+))?"
    r"(?:\s+SEED\s+(?P<seed>\d+))?"
    r"(?:\s+TOKENS\s+(?P<col>\w+))?\s*;?\s*$",
    re.IGNORECASE)
_CORRUPT_RE = re.compile(
    r"^\s*CORRUPT\s+SPANS\s+(?P<src>STREAM:\w+|TAG:'[^']*')"
    r"(?:\s+GRID\s+(?P<grid>\d+))?(?:\s+RATE\s+(?P<rate>\d+))?"
    r"(?:\s+SPANS\s+(?P<smin>\d+)\s+(?P<smax>\d+))?"
    r"(?:\s+SEED\s+(?P<seed>\d+))?\s*;?\s*$",
    re.IGNORECASE)
_BATCH_RE = re.compile(
    r"^\s*BATCH\s+(?P<src>STREAM:\w+|TAG:'[^']*')\s+"
    r"MAX\s+(?P<max>\d+)\s+TOKENS"
    r"(?:\s+ROUND\s+(?P<round>\d+))?\s*;?\s*$",
    re.IGNORECASE)
_ALLOCATE_RE = re.compile(
    r"^\s*ALLOCATE\s+(?P<src>STREAM:\w+|TAG:'[^']*')\s+"
    r"BUDGET\s+(?P<budget>\d+)"
    r"(?:\s+EPOCHS\s+(?P<milli>\d+))?\s*;?\s*$",
    re.IGNORECASE)
_FUSE_RE = re.compile(
    r"^\s*FUSE\s+RANKS\s+(?P<srcs>(?:(?:STREAM:\w+|TAG:'[^']*')\s*)+?)"
    r"(?:\s*\bK\s+(?P<k>\d+))?(?:\s*\bTOP\s+(?P<n>\d+))?\s*;?\s*$",
    re.IGNORECASE)
_FUSE_SRC_RE = re.compile(r"STREAM:\w+|TAG:'[^']*'", re.IGNORECASE)
_FROM_TAG_RE = re.compile(r"\bTAG:'([^']*)'", re.IGNORECASE)
_WINDOW_RE = re.compile(
    r"\bWINDOW\s+(?P<kind>TUMBLING|HOPPING)\s*\(\s*(?P<n>\d+)\s+"
    r"(?P<unit>SECOND|MINUTE|HOUR)S?\s*"
    r"(?:,\s*ADVANCE\s+BY\s+(?P<m>\d+)\s+(?P<munit>SECOND|MINUTE|HOUR)S?)?"
    r"\s*\)", re.IGNORECASE)
_CONTAINS_RE = re.compile(r"@record\.contains\(\s*([\w.\[\]'\x00]+)\s*\)",
                          re.IGNORECASE)
# single-quoted SQL string literal ('' = escaped quote)
_STRING_LIT_RE = re.compile(r"'(?:[^']|'')*'")
_MASK_RE = re.compile(r"\x00(\d+)\x00")
_GROUP_BY_RE = re.compile(r"\bGROUP\s+BY\b", re.IGNORECASE)
_SELECT_RE = re.compile(r"^\s*SELECT\s+", re.IGNORECASE)
# clauses that may follow GROUP BY keys (end of the key list)
_TAIL_RE = re.compile(r"\b(HAVING|ORDER\s+BY|LIMIT)\b", re.IGNORECASE)


class StreamProcessor:
    """Holds stream registrations (flb_sp's stream list analogue) and
    translates+executes dialect statements."""

    def __init__(self, spark: SparkSession, tagged: DataFrame | None = None,
                 tag_col: str = "tag", ts_col: str = "event_ts"):
        self.spark = spark
        self.tagged = tagged
        self.tag_col = tag_col
        self.ts_col = ts_col
        self._tag_views: dict[str, str] = {}
        # name -> (source DataFrame, size, key_col, order_col)
        self._snapshots: dict[str, tuple] = {}

    # -- registration -------------------------------------------------------

    def register_stream(self, name: str, df: DataFrame) -> None:
        df.createOrReplaceTempView(f"sp_stream_{name}")

    def _tag_view(self, pattern: str) -> str:
        if self.tagged is None:
            raise ValueError("TAG: selector needs a tagged frame")
        v = self._tag_views.get(pattern)
        if v is None:
            v = f"sp_tag_{len(self._tag_views)}"
            self.tagged.filter(
                match_predicate(self.tag_col, Route(v, pattern))
            ).createOrReplaceTempView(v)
            self._tag_views[pattern] = v
        return v

    # -- translation --------------------------------------------------------

    @staticmethod
    def _contains_repl(m: re.Match) -> str:
        """@record.contains(key) → presence test.

        flb semantics are key-presence on the record map. Exact parity
        where the record is map-typed: ``@record.contains(col['k'])``
        becomes ``map_contains_key(col, 'k')`` (a present-but-NULL value
        reports true). For a plain column the batch schema has no
        present-vs-null distinction, so the translation is
        ``IS NOT NULL`` — documented divergence: a key present with a
        null value reports false, and a column missing from the schema
        is an analysis error rather than false."""
        arg = m.group(1)
        mk = re.match(r"^(\w+)\[(.+)\]$", arg)
        if mk:
            return f"map_contains_key({mk.group(1)}, {mk.group(2)})"
        return f"({arg} IS NOT NULL)"

    def translate(self, text: str) -> str:
        """Dialect SELECT → Spark SQL text (no execution).

        String literals are masked out first, so the STREAM:/TAG:/
        RECORD_* rewrites and the whitespace collapse can NEVER corrupt
        literal content (tabs, runs of spaces, text like 'STREAM:x').
        The TAG:'pat' selector is consumed BEFORE masking — its quoted
        pattern is dialect syntax, not data."""
        s = text.strip().rstrip(";")
        s = _FROM_TAG_RE.sub(lambda m: self._tag_view(m.group(1)), s)
        lits: list[str] = []

        def _mask(m: re.Match) -> str:
            lits.append(m.group(0))
            return f"\x00{len(lits) - 1}\x00"

        s = _STRING_LIT_RE.sub(_mask, s)
        s = _FROM_STREAM_RE.sub(lambda m: f"sp_stream_{m.group(1)}", s)
        s = _CONTAINS_RE.sub(self._contains_repl, s)
        s = re.sub(r"\bRECORD_TAG\(\)", self.tag_col, s, flags=re.IGNORECASE)
        s = re.sub(r"\bRECORD_TIME\(\)", self.ts_col, s, flags=re.IGNORECASE)

        wm = _WINDOW_RE.search(s)
        if wm:
            n = int(wm.group("n")) * _UNIT_SEC[wm.group("unit").upper()]
            dur = f"'{n} seconds'"
            if wm.group("m"):
                adv = (int(wm.group("m"))
                       * _UNIT_SEC[wm.group("munit").upper()])
                win = f"window({self.ts_col}, {dur}, '{adv} seconds')"
            else:
                win = f"window({self.ts_col}, {dur})"
            s = s[:wm.start()] + s[wm.end():]  # drop WINDOW clause
            gb = _GROUP_BY_RE.search(s)
            if gb:
                # append the window expr to the existing key list
                tail = _TAIL_RE.search(s, gb.end())
                at = tail.start() if tail else len(s)
                s = s[:at].rstrip() + f", {win}" + " " + s[at:]
            else:
                s = s.rstrip() + f" GROUP BY {win}"
            # splice the window start into the SELECT list
            s = _SELECT_RE.sub(
                lambda m: m.group(0) + f"{win}.start AS win_start, ", s)
        s = re.sub(r"\s+", " ", s).strip()
        return _MASK_RE.sub(lambda m: lits[int(m.group(1))], s)

    # -- token-op verbs (engine extensions) ---------------------------------

    def _source_df(self, token: str) -> DataFrame:
        """STREAM:name | TAG:'pattern' → its DataFrame."""
        tm = re.match(r"TAG:'([^']*)'", token, re.IGNORECASE)
        if tm:
            return self.spark.table(self._tag_view(tm.group(1)))
        sm = re.match(r"STREAM:(\w+)", token, re.IGNORECASE)
        assert sm, token
        return self.spark.table(f"sp_stream_{sm.group(1)}")

    def _pack(self, m: re.Match) -> DataFrame:
        """PACK STREAM:src INTO n TOKENS [NOSPLIT] [PARTITION BY col]
        [ORDER BY col | HASH(col)] [SEP tok] — concat-and-chunk packing
        (operators/tokens.py pack_sequences) over the north-star token
        shape, or with NOSPLIT the SFT greedy packer (pack_documents:
        docs stay whole, bins pad; order is its fixed md5 walk, so
        ORDER BY / SEP do not combine with it). ORDER BY HASH(col)
        packs in deterministically shuffled order; the range-group
        width derives from the row count (hash_order_bucket_width),
        costing one count() at plan time."""
        from pyspark.sql import functions as F

        from ..operators.tokens import (hash_order_bucket_width,
                                        pack_documents, pack_sequences)
        df = self._source_df(m.group("src"))
        if m.group("nosplit"):
            if m.group("order") or m.group("sep") is not None:
                raise ValueError(
                    "PACK … NOSPLIT walks a fixed deterministic "
                    "md5-key order and pads bins: ORDER BY / SEP "
                    "do not apply")
            kw2: dict = {"ctx_len": int(m.group("ctx"))}
            if m.group("part"):
                kw2["part_col"] = m.group("part")
            return pack_documents(df, **kw2)
        kw: dict = {"ctx_len": int(m.group("ctx"))}
        if m.group("part"):
            kw["part_col"] = m.group("part")
        if m.group("sep") is not None:
            kw["sep_token"] = int(m.group("sep"))
        order = m.group("order")
        hm = re.match(r"HASH\(\s*(\w+)\s*\)", order or "", re.IGNORECASE)
        if hm:
            col = hm.group(1)
            df = df.withColumn("__okey", F.xxhash64(col))
            kw.update(order_col="__okey", tiebreak_col=col,
                      group_size=hash_order_bucket_width(df.count()))
        elif order:
            kw["order_col"] = order
        return pack_sequences(df, **kw)

    def _score_surprisal(self, m: re.Match) -> DataFrame:
        """SCORE SURPRISAL STREAM:src [TOKENS col] [ORDER n]
        [BACKOFF TRAIN STREAM:train] — surprisal quality scoring over
        the north-star token shape: ORDER 1 (default) =
        unigram_surprisal, ORDER 2 = bigram_surprisal, ORDER n ≥ 3 =
        ngram_surprisal; with BACKOFF TRAIN, stupid-backoff
        train-once/score-many scoring (backoff_surprisal: models of
        orders 1..n from the train stream, src scored with the
        916 milli-nat ladder)."""
        from ..operators.tokens import (backoff_surprisal,
                                        bigram_surprisal,
                                        ngram_surprisal,
                                        unigram_surprisal)
        col = m.group("col") or "tokens"
        order = int(m.group("order") or 1)
        src = self._source_df(m.group("src"))
        if m.group("kn"):
            # SCORE SURPRISAL src KN [DISCOUNT milli] [TRAIN t]:
            # interpolated Kneser-Ney bigram scoring (kn_surprisal)
            from ..operators.tokens import kn_surprisal
            if order not in (1, 2):
                raise ValueError("SCORE SURPRISAL … KN is the bigram "
                                 "smoother; ORDER does not apply")
            train = (self._source_df(m.group("train"))
                     if m.group("train") else src)
            return kn_surprisal(
                train, src,
                discount_milli=int(m.group("disc") or 750),
                tokens_col=col)
        if m.group("train"):
            if not m.group("backoff"):
                raise ValueError(
                    "SCORE SURPRISAL … TRAIN requires BACKOFF or KN")
            if order < 2:
                raise ValueError(
                    "SCORE SURPRISAL … BACKOFF requires ORDER >= 2")
            return backoff_surprisal(self._source_df(m.group("train")),
                                     src, order=order, tokens_col=col)
        if order == 1:
            return unigram_surprisal(src, tokens_col=col)
        if order == 2:
            return bigram_surprisal(src, tokens_col=col)
        return ngram_surprisal(src, order=order, tokens_col=col)

    def _split_holdout(self, m: re.Match) -> DataFrame:
        """SPLIT STREAM:src HOLDOUT n [BY group_col] [KEY hash_col] —
        deterministic per-mille eval carve-out (operators/filters.py
        stratified_split); per-group rate overrides stay a Python/
        config-level concern (the verb sets one uniform rate)."""
        from ..operators.filters import stratified_split
        return stratified_split(
            self._source_df(m.group("src")),
            m.group("grp") or "source", m.group("key") or "doc_id",
            {}, default_permille=int(m.group("pm")))

    def _resample(self, m: re.Match) -> DataFrame:
        """RESAMPLE STREAM:raw TARGET STREAM:tgt TOP n [TOKENS col]
        [BUCKETS k] [SEED 'name'] — DSIR importance resampling
        (operators/tokens.py dsir_select): fit the hashed-n-gram
        target-vs-raw log-ratio model and keep the top-n docs under
        the deterministic Gumbel perturbation."""
        from ..operators.tokens import dsir_select
        return dsir_select(
            self._source_df(m.group("src")),
            self._source_df(m.group("target")),
            n=int(m.group("n")),
            tokens_col=m.group("col") or "tokens",
            n_buckets=int(m.group("k") or 4096),
            seed=m.group("seed") or "dsir")

    def _fim(self, m: re.Match) -> DataFrame:
        """FIM STREAM:src [RATE pm] [SPM pm] [SEED n] [TOKENS col] —
        fill-in-the-middle training transform (operators/tokens.py
        fim_transform): a deterministic RATE/1000 fraction of docs is
        split at two portable uniform cut points and re-serialized
        PSM or SPM (SPM/1000 odds) with sentinel tokens."""
        from ..operators.tokens import fim_transform
        return fim_transform(
            self._source_df(m.group("src")),
            rate_permille=int(m.group("rate") or 900),
            spm_permille=int(m.group("spm") or 500),
            seed=int(m.group("seed") or 0),
            tokens_col=m.group("col") or "tokens")

    def _corrupt(self, m: re.Match) -> DataFrame:
        """CORRUPT SPANS STREAM:src [GRID g] [RATE pm] [SPANS a b]
        [SEED n] — T5 span-corruption objective (operators/tokens.py
        span_corrupt, deterministic grid variant)."""
        from ..operators.tokens import span_corrupt
        return span_corrupt(
            self._source_df(m.group("src")),
            grid=int(m.group("grid") or 20),
            rate_permille=int(m.group("rate") or 800),
            span_min=int(m.group("smin") or 2),
            span_max=int(m.group("smax") or 5),
            seed=int(m.group("seed") or 0))

    def _batch(self, m: re.Match) -> DataFrame:
        """BATCH STREAM:src MAX n TOKENS [ROUND r] — length-bucketed
        max-token batch construction (operators/tokens.py
        bucket_batches): pad-to-bucket cost, off DIV cap assignment,
        oversize docs routed aside with a null batch."""
        from ..operators.tokens import bucket_batches
        return bucket_batches(
            self._source_df(m.group("src")),
            max_tokens=int(m.group("max")),
            bucket_rounding=int(m.group("round") or 64))

    def _heavy_keys(self, m: re.Match) -> DataFrame:
        """HEAVY KEYS STREAM:src KEY col MIN n [WIDTH w] [DEPTH d] —
        Count-Min-Sketch heavy-key detection (operators/aggregate.py
        heavy_hitters_cms): bounded-memory frequency sketch +
        threshold, the input to a salting decision."""
        from ..operators.aggregate import heavy_hitters_cms
        return heavy_hitters_cms(
            self._source_df(m.group("src")), m.group("key"),
            min_count=int(m.group("min")),
            width=int(m.group("width") or 4096),
            depth=int(m.group("depth") or 4))

    def _audit(self, m: re.Match) -> DataFrame:
        """AUDIT ZIPF STREAM:src [TOKENS col] [TOP k] /
        AUDIT VOCAB STREAM:src [TOKENS col] — corpus-health statistics
        (operators/tokens.py zipf_table / vocab_growth) — /
        AUDIT DISTINCT STREAM:src KEY col [BY grp] [P p] — HLL
        approximate distinct cardinality (operators/aggregate.py
        approx_distinct_hll, 2^p-cell memory bound) — /
        AUDIT DRIFT STREAM:old VS STREAM:new [TOKENS col] [TOP k] —
        snapshot distribution drift (operators/tokens.py
        corpus_drift: integer-PPM L1 scalar + top-k movers)."""
        from ..operators.tokens import vocab_growth, zipf_table
        src = self._source_df(m.group("src"))
        kind = m.group("kind").upper()
        if kind == "DRIFT":
            from ..operators.tokens import corpus_drift
            if not m.group("vs"):
                raise ValueError("AUDIT DRIFT requires VS STREAM:new")
            return corpus_drift(
                src, self._source_df(m.group("vs")),
                k=int(m.group("k") or 20),
                tokens_col=m.group("col") or "tokens")
        if kind == "DISTINCT":
            from ..operators.aggregate import approx_distinct_hll
            if not m.group("key"):
                raise ValueError("AUDIT DISTINCT requires KEY col")
            return approx_distinct_hll(
                src, m.group("key"), p=int(m.group("p") or 10),
                group_cols=[m.group("by")] if m.group("by") else None)
        col = m.group("col") or "tokens"
        if kind == "ZIPF":
            return zipf_table(src, tokens_col=col,
                              k=int(m.group("k") or 50))
        return vocab_growth(src, tokens_col=col)

    def _allocate(self, m: re.Match) -> DataFrame:
        """ALLOCATE STREAM:totals BUDGET n [EPOCHS milli] —
        data-constrained token-budget water-filling
        (operators/tokens.py allocate_token_budget) over a per-source
        totals stream with (source, unique_tokens, weight)."""
        from ..operators.tokens import allocate_token_budget
        return allocate_token_budget(
            self._source_df(m.group("src")),
            budget_tokens=int(m.group("budget")),
            max_epochs_milli=int(m.group("milli") or 4000))

    def _fuse_ranks(self, m: re.Match) -> DataFrame:
        """FUSE RANKS STREAM:a STREAM:b [STREAM:c ...] [K k] [TOP n] —
        reciprocal rank fusion (operators/tokens.py rrf_fuse) over
        ranked-list streams with (query_id, doc_id, rank)."""
        from ..operators.tokens import rrf_fuse
        srcs = _FUSE_SRC_RE.findall(m.group("srcs"))
        return rrf_fuse([self._source_df(s) for s in srcs],
                        k=int(m.group("k") or 60),
                        top_n=int(m.group("n") or 10))

    def _exec_select(self, text: str) -> DataFrame:
        """A statement body: a token-op verb, else translated SQL."""
        al = _ALLOCATE_RE.match(text)
        if al:
            return self._allocate(al)
        fu = _FUSE_RE.match(text)
        if fu:
            return self._fuse_ranks(fu)
        pm = _PACK_RE.match(text)
        if pm:
            return self._pack(pm)
        sm = _SCORE_RE.match(text)
        if sm:
            return self._score_surprisal(sm)
        hm = _SPLIT_RE.match(text)
        if hm:
            return self._split_holdout(hm)
        im = _RESAMPLE_RE.match(text)
        if im:
            return self._resample(im)
        fm2 = _FIM_RE.match(text)
        if fm2:
            return self._fim(fm2)
        bm = _BATCH_RE.match(text)
        if bm:
            return self._batch(bm)
        cs = _CORRUPT_RE.match(text)
        if cs:
            return self._corrupt(cs)
        hk = _HEAVY_RE.match(text)
        if hk:
            return self._heavy_keys(hk)
        am = _AUDIT_RE.match(text)
        if am:
            return self._audit(am)
        return self.spark.sql(self.translate(text))

    # -- execution ----------------------------------------------------------

    def sql(self, text: str) -> DataFrame:
        """Execute one dialect statement. CREATE STREAM registers the
        result (and WITH(tag=…) stamps the emitted tag, the re-emission
        analogue — upstream:src/stream_processor/flb_sp_stream.c);
        plain SELECT returns the DataFrame. The statement body may be a
        SELECT or one of the token-op verbs (PACK, SCORE, …)."""
        sm = _CREATE_SNAP_RE.match(text)
        if sm:
            return self._create_snapshot(sm)
        fm = _FLUSH_SNAP_RE.match(text)
        if fm:
            return self._flush_snapshot(fm.group("name"),
                                        fm.group("cond"))
        cm = _CREATE_RE.match(text)
        if not cm:
            return self._exec_select(text)
        df = self._exec_select(cm.group("select"))
        props = cm.group("props") or ""
        tm = re.search(r"tag\s*=\s*'([^']*)'", props, re.IGNORECASE)
        if tm:
            from pyspark.sql import functions as F
            df = df.withColumn(self.tag_col, F.lit(tm.group(1)))
        self.register_stream(cm.group("name"), df)
        return df

    # -- snapshots (upstream:src/stream_processor/flb_sp_snapshot.c) --------

    def _create_snapshot(self, m: re.Match) -> DataFrame:
        """CREATE SNAPSHOT n [WITH (size=N [, key='c'][, order='c'])]
        AS SELECT …  — registers the ring-buffer source. ``size`` is
        the record cap per key stream (the reference's size-bounded
        window; its seconds-bounded variant maps to an order-column
        range and is expressed here by flushing with a time predicate).
        key defaults to the tag column, order to the time column."""
        props = m.group("props") or ""
        df = self.spark.sql(self.translate(m.group("select")))

        def prop(name: str, default: str) -> str:
            pm = re.search(rf"{name}\s*=\s*'?(\w+)'?", props, re.IGNORECASE)
            return pm.group(1) if pm else default

        size = int(prop("size", "10"))
        key = prop("key", self.tag_col)
        order = prop("order", self.ts_col)
        self._snapshots[m.group("name")] = (df, size, key, order)
        return df

    def _flush_snapshot(self, name: str, cond: str) -> DataFrame:
        """FLUSH SNAPSHOT n WHEN <condition> — for every record of the
        snapshot's stream matching the condition, re-emit the buffered
        context that preceded it (operators/snapshot.py semantics)."""
        from pyspark.sql import functions as F

        from ..operators.snapshot import snapshot_context
        if name not in self._snapshots:
            raise ValueError(f"unknown snapshot: {name}")
        df, size, key, order = self._snapshots[name]
        # the order column already surfaces as flush_at / buffer order —
        # keeping it in the payload would just duplicate it as ctx_<order>
        payload = [c for c in df.columns if c not in (key, order)]
        # translate() on the bare condition applies the RECORD_* /
        # @record.contains rewrites; WINDOW/SELECT splicing can't fire
        # on a predicate fragment.
        trigger = F.expr(self.translate(cond))
        return snapshot_context(df, key, order, trigger, size, payload)
