"""Text-analysis functions for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

Training-data extensions (not in the reference); all pure Column
expressions (codegen, pushdown-friendly) — deliberately no UDFs so the
10^12-row scan stays JVM-side.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# n-gram-heuristic language ID: marker tokens per language. Real systems
# use char-trigram models; the heuristic keeps the same shape (score per
# language, argmax) with a deterministic, oracle-checkable scorer.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and"],
    "es": ["el", "la", "de", "y"],
    "de": ["der", "die", "das", "und"],
    "fr": ["le", "la", "et", "les"],
}

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def words(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def marker_count(col: str | Column, markers: list[str]) -> Column:
    return F.size(F.filter(words(col),
                           lambda w: w.isin(*markers)))


def lang_id(col: str | Column,
            markers: dict[str, list[str]] | None = None) -> Column:
    """argmax language by marker hits; 'unk' when no marker fires.
    Deterministic tiebreak: language order in the dict."""
    markers = markers or LANG_MARKERS
    scored = F.array(*[
        F.struct(marker_count(col, m).alias("score"),
                 F.lit(i).alias("prio"), F.lit(lang).alias("lang"))
        for i, (lang, m) in enumerate(markers.items())])
    best = F.array_max(F.transform(
        scored, lambda s: F.struct(s["score"].alias("score"),
                                   (-s["prio"]).alias("nprio"),
                                   s["lang"].alias("lang"))))
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("unk"))


def n_words(col: str | Column) -> Column:
    return F.size(words(col))


def stopword_ratio(col: str | Column,
                   stopwords: list[str] | None = None) -> Column:
    sw = stopwords or STOPWORDS
    return marker_count(col, sw).cast("double") / n_words(col)


def punct_ratio(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, r"[^\w\s]", "")
    return (F.length(c) - F.length(stripped)).cast("double") / F.length(c)


def mean_word_len(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    total_chars = F.length(F.regexp_replace(c, " ", ""))
    return total_chars.cast("double") / n_words(col)


def quality_score(col: str | Column) -> Column:
    """Composite [0,1] quality heuristic: penalize too-short docs, huge
    punctuation ratios and stopword-free (likely garbage) text."""
    len_ok = F.least(n_words(col).cast("double") / 20.0, F.lit(1.0))
    punct_ok = F.lit(1.0) - F.least(punct_ratio(col) * 5.0, F.lit(1.0))
    sw_ok = F.least(stopword_ratio(col) * 10.0, F.lit(1.0))
    return F.round((len_ok + punct_ok + sw_ok) / 3.0, 6)


def token_count_ws(col: str | Column) -> Column:
    """Whitespace tokenization count."""
    return n_words(col)


def token_count_regex(col: str | Column,
                      pattern: str = r"\w+|[^\w\s]") -> Column:
    """BPE-ish pre-tokenizer count: words plus standalone punctuation —
    the usual GPT-style pre-split approximation."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(pattern), F.lit(0)))


def fingerprint(col: str | Column) -> Column:
    """Normalized content fingerprint: lowercase, strip non-alnum, md5.
    Deterministic and portable (same value in DuckDB/Python) — the dedup
    key for exact near-normalization duplicates."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.regexp_replace(F.lower(c), r"[^a-z0-9 ]", "")
    return F.md5(normalized)


# ---------------------------------------------------------------------------
# PII redaction (r4) — training-data scrub pass
# ---------------------------------------------------------------------------
# Patterns are deliberately RE2-compatible (no lookaround, no backrefs)
# so the SAME pattern string runs identically under Spark's Java regex
# and DuckDB's RE2 — which is what makes the redaction oracle-checkable.
# Order matters (emails contain dots that the IP pattern must not see
# first); apply_redaction applies rules in list order in both engines.
PII_RULES: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d[\d-]{7,14}\d", "<PHONE>"),
]


def redact(col: str | Column,
           rules: list[tuple[str, str, str]] | None = None) -> Column:
    """Scrub PII spans, replacing each with its typed placeholder.
    Pure Column expression (chained regexp_replace → codegen, no UDF):
    the scrub of a 10^12-row text column stays JVM-side, map-only."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pat, repl in (rules or PII_RULES):
        c = F.regexp_replace(c, pat, repl)
    return c


def pii_counts(col: str | Column,
               rules: list[tuple[str, str, str]] | None = None
               ) -> list[Column]:
    """One ``<name>_hits`` count column per rule — the audit trail a
    scrub pass reports alongside the redacted text. Counted on the
    same progressively-redacted string the replacements see, so
    overlapping rules (IP-like digits inside an email) never double
    count."""
    out = []
    c = F.col(col) if isinstance(col, str) else col
    for name, pat, repl in (rules or PII_RULES):
        out.append(F.regexp_count(c, F.lit(pat)).alias(f"{name}_hits"))
        c = F.regexp_replace(c, pat, repl)
    return out


# ---------------------------------------------------------------------------
# Gopher-style composite quality filter (r4) — the keep/drop gate a
# training-data pipeline runs after scoring. Every rule is INTEGER
# arithmetic on word-level stats (cross-multiplied thresholds, no
# floating ratios), so verdicts are exact, order-independent, and
# reproducible bit-for-bit by any engine.
# ---------------------------------------------------------------------------

GOPHER_BITS = {"too_few_words": 1, "mean_word_len": 2,
               "low_distinct": 4, "long_word": 8}


def gopher_reasons(col: str | Column, *, min_words: int = 30,
                   min_mean_len_x1: int = 4, max_mean_len_x1: int = 10,
                   min_distinct_num: int = 1, min_distinct_den: int = 2,
                   max_word_len: int = 7) -> Column:
    """Bitmask of failed quality rules (0 == keep):

    - bit 1: fewer than ``min_words`` words;
    - bit 2: mean word length outside [min, max] — tested as
      ``min*n_words <= sum_chars <= max*n_words`` (exact cross-multiply,
      no division);
    - bit 4: distinct-word fraction below ``num/den`` (repetitive doc) —
      ``den*n_distinct < num*n_words``;
    - bit 8: any word longer than ``max_word_len`` (mojibake/garbage).

    One pass over the split array; all whole-stage-codegen Column
    algebra, map-only at any scale.
    """
    w = words(col)
    nw = F.size(w)
    sc = F.aggregate(w, F.lit(0).cast("long"),
                     lambda acc, x: acc + F.length(x))
    nd = F.size(F.array_distinct(w))
    mx = F.array_max(F.transform(w, lambda x: F.length(x)))
    return ((F.when(nw < min_words, 1).otherwise(0)
             + F.when((sc < min_mean_len_x1 * nw)
                      | (sc > max_mean_len_x1 * nw), 2).otherwise(0)
             + F.when(min_distinct_den * nd < min_distinct_num * nw, 4)
                .otherwise(0)
             + F.when(mx > max_word_len, 8).otherwise(0))
            .cast("int"))


def gopher_filter(df, col: str = "text", out_col: str = "gq_reasons",
                  keep_col: str = "gq_keep", **thresholds):
    """Stamp each document with its failed-rule bitmask and the keep
    verdict; downstream either filters on ``gq_keep`` or routes drops
    to an audit sink keyed by reason."""
    r = gopher_reasons(col, **thresholds)
    return (df.withColumn(out_col, r)
              .withColumn(keep_col, F.col(out_col) == 0))


# ---------------------------------------------------------------------------
# compression-ratio quality signal (Dolma / RedPajama-v2 posture)
# ---------------------------------------------------------------------------


def compressed_size(col: str | Column, level: int = 6) -> Column:
    """DEFLATE-compressed byte size of the UTF-8 text — the classic
    "gzip ratio" quality signal (RedPajama-v2's and Dolma's
    compression-ratio field): near-1 ratios flag random/encrypted
    garbage, near-0 ratios flag degenerate repetition; natural prose
    sits ~0.3-0.5. No Catalyst form exists for DEFLATE, so this is an
    Arrow-batched pandas UDF over ``zlib`` (C speed, one python
    boundary per batch, never per-row Python). Deterministic for a fixed zlib build and ``level``;
    pytest pins it against a direct driver-side ``zlib`` replay.
    Because the byte count is a library artifact rather than portable
    arithmetic, queries built on it carry a rows-only driver check
    (no SQL engine can reproduce DEFLATE) — documented, not hidden.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _csize(s: pd.Series) -> pd.Series:
        import zlib
        return s.map(lambda x: None if x is None
                     else len(zlib.compress(x.encode("utf-8"), level)))

    c = F.col(col) if isinstance(col, str) else col
    return _csize(c)


def compression_ratio_permille(col: str | Column,
                               level: int = 6) -> Column:
    """``compressed_bytes * 1000 DIV raw_bytes`` as BIGINT permille —
    integer-exact given the compressed size, NULL on empty/NULL text.
    The keep-band filter (e.g. 200 <= r <= 900) composes with
    gopher_reasons as one more bit-exact gate."""
    c = F.col(col) if isinstance(col, str) else col
    raw = F.octet_length(c)
    # floor of an exact-in-double quotient (compressed*1000 < 2^53 for
    # any realistic document) == integer DIV for non-negative operands
    return F.when(raw > 0,
                  F.floor(compressed_size(c, level) * 1000 / raw)
                  .cast("long"))
