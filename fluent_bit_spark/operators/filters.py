"""Row filters & projections (SURVEY.md §2.3).

Reference semantics re-expressed:

- filter_grep  (upstream:plugins/filter_grep/grep.c): per-key regex
  Regex/Exclude rules with AND/OR logical_op.
- filter_type_converter (upstream:plugins/filter_type_converter):
  int/str/float casts of existing keys into new keys.
- processor_sampling (upstream:plugins/processor_sampling): head and
  deterministic key-hash sampling.
- filter_expect (upstream:plugins/filter_expect/expect.c): embedded
  assertions — here ``F.assert_true`` or raising checks in tests.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# filter_grep
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class GrepRule:
    key: str
    pattern: str
    exclude: bool = False  # Exclude rule (drop on match) vs Regex (keep)


def grep_predicate(rules: list[GrepRule], logical_op: str = "AND") -> Column:
    """Compile grep rules to one boolean Column. fluent-bit legacy mode is
    AND over all rules; extended mode allows OR."""
    preds = []
    for r in rules:
        p = F.col(r.key).cast("string").rlike(r.pattern)
        # a missing/null key never matches Regex, and never matches Exclude
        p = F.coalesce(p, F.lit(False))
        preds.append(~p if r.exclude else p)
    if not preds:
        return F.lit(True)
    op = (lambda a, b: a | b) if logical_op.upper() == "OR" else \
         (lambda a, b: a & b)
    return reduce(op, preds)


def grep(df: DataFrame, rules: list[GrepRule],
         logical_op: str = "AND") -> DataFrame:
    return df.filter(grep_predicate(rules, logical_op))


# ---------------------------------------------------------------------------
# filter_type_converter
# ---------------------------------------------------------------------------

_CONV = {"int": "bigint", "integer": "bigint", "float": "double",
         "double": "double", "string": "string", "str": "string",
         "bool": "boolean"}


def type_convert(df: DataFrame, conversions: list[tuple[str, str, str]],
                 ) -> DataFrame:
    """[(src_key, dst_key, type)] — try_cast so bad values → null rather
    than job failure (reference drops the conversion, keeps the record)."""
    for src, dst, typ in conversions:
        df = df.withColumn(dst, F.col(src).try_cast(_CONV[typ.lower()]))
    return df


# ---------------------------------------------------------------------------
# sampling
# ---------------------------------------------------------------------------


def sample_head(df: DataFrame, n: int) -> DataFrame:
    return df.limit(n)


def sample_predicate(key: str, rate: int) -> Column:
    """True on 1-in-``rate`` rows by key hash."""
    return F.pmod(F.xxhash64(F.col(key)), F.lit(rate)) == 0


def deterministic_sample(df: DataFrame, key: str, rate: int) -> DataFrame:
    """Keep 1-in-``rate`` rows by key hash — deterministic (golden-safe),
    unlike Bernoulli sampling; this is the scale path for 10^12 rows."""
    return df.filter(sample_predicate(key, rate))


# ---------------------------------------------------------------------------
# filter_expect (upstream:plugins/filter_expect/expect.c): assert record
# invariants in-pipeline; action 'exit' aborts the pipeline, 'warn'/
# 'result_key' records the violation and continues.
# ---------------------------------------------------------------------------


def expect(df: DataFrame, cond: Column, action: str = "exit",
           result_key: str = "_expect_ok") -> DataFrame:
    """Pipeline-embedded invariant.

    - ``exit``: any violating row fails the job at execution time
      (``F.assert_true`` — a codegen'd check, zero cost when it holds;
      this is how the token-equality invariant rides the 10^12-row scan
      without a second pass).
    - ``warn`` / ``result_key``: stamp a boolean column; downstream
      metrics/DLQ policy decides (the reference logs and continues).
    """
    if action == "exit":
        # assert_true returns NULL when the predicate holds and raises
        # otherwise; wrapping in coalesce(..., true) inside a filter
        # keeps every row while forcing evaluation (a projected-then-
        # dropped column would be pruned by Catalyst and never checked)
        return df.filter(F.coalesce(
            F.assert_true(cond, F.lit(f"expect failed: {cond}")),
            F.lit(True)))
    return df.withColumn(result_key, cond)


def stratified_split(df: DataFrame, group_col: str, key_col: str,
                     holdout_permille: dict[str, int],
                     default_permille: int = 0,
                     split_col: str = "split") -> DataFrame:
    """Deterministic per-group train/holdout split — the eval-set
    carve-out step of a training-data pipeline: each group (source,
    language, ...) holds out its own per-mille fraction, selected by a
    content hash of ``key_col`` so the assignment is partition-count
    independent, re-run stable, and reproducible by any engine (md5
    prefix, the same portable bucket as deterministic_sample — not
    rand(), not xxhash64).

    Scale shape: pure map-only column expression (hash + map-literal
    lookup); no shuffle, no dim table — safe inside any 10^12-row scan.
    """
    for v in holdout_permille.values():
        if not 0 <= int(v) <= 1000:
            raise ValueError(f"holdout_permille wants 0..1000, got {v}")
    bucket = (F.conv(F.substring(F.md5(F.col(key_col).cast("string")),
                                 1, 7), 16, 10).cast("long") % 1000)
    if holdout_permille:
        rates = F.create_map(*[F.lit(x) for kv in
                               sorted(holdout_permille.items())
                               for x in (kv[0], int(kv[1]))])
        rate = F.coalesce(rates[F.col(group_col)],
                          F.lit(int(default_permille)))
    else:  # uniform rate — an empty map() literal has VOID key type
        rate = F.lit(int(default_permille))
    return df.withColumn(
        split_col,
        F.when(bucket < rate, F.lit("holdout")).otherwise(F.lit("train")))
