"""Tag-match routing (SURVEY.md §2.5).

Reference semantics (upstream:src/flb_router.c ``flb_router_match``,
upstream:src/flb_routes_mask.c, upstream:plugins/filter_rewrite_tag):

- a tag is a dotted string set at ingest, rewritable by rewrite_tag rules;
- each sink declares a Match pattern: glob (``*`` matches any run of
  characters, any position, multiple allowed, case-sensitive) or a full
  regex (Match_Regex);
- every record gets a routes mask — the set of sinks whose pattern
  matches its tag; an empty mask → dropped-with-metric (our dead-letter).

Spark shift: tags become a data column; the routes mask becomes a
``sinks: array<string>`` column computed once per row by a single
codegen'd expression (the reference computes it once per chunk).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Route:
    sink: str
    pattern: str
    match_type: str = "glob"  # 'glob' | 'regex' | 'exact'


def glob_to_like(pattern: str) -> str:
    """fluent-bit glob → SQL LIKE: ``*`` → ``%``; escape LIKE metachars."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append("%")
        elif ch in ("%", "_", "\\"):
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "".join(out)


def match_predicate(tag: Column | str, route: Route) -> Column:
    c = F.col(tag) if isinstance(tag, str) else tag
    if route.match_type == "regex":
        return c.rlike(route.pattern)
    if route.match_type == "exact" or "*" not in route.pattern:
        return c == F.lit(route.pattern)
    return c.like(glob_to_like(route.pattern))


def routes_mask(tag: Column | str, routes: list[Route]) -> Column:
    """The per-row routes mask: array of sink names whose pattern matches.
    Duplicate sinks (a sink with several Match rules) collapse to one entry
    while preserving first-rule order."""
    entries = [F.when(match_predicate(tag, r), F.lit(r.sink)) for r in routes]
    arr = F.array(*entries) if entries else F.array().cast("array<string>")
    # array_distinct preserves first-occurrence order
    return F.array_distinct(F.filter(arr, lambda x: x.isNotNull()))


def with_routes(df: DataFrame, routes: list[Route], tag_col: str = "tag",
                out: str = "sinks") -> DataFrame:
    return df.withColumn(out, routes_mask(tag_col, routes))


# ---------------------------------------------------------------------------
# rewrite_tag (upstream:plugins/filter_rewrite_tag/rewrite_tag.c)
# Rule: <key_accessor> <regex> <NEW_TAG template> <keep bool>
# NEW_TAG may splice $TAG, $TAG[n], $<key>, and regex captures $0..$9.
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class RewriteTagRule:
    key: str        # column (record-accessor path, dot notation ok)
    pattern: str    # regex the key value must match
    new_tag: str    # template with $TAG / $TAG[n] / $key / $0..$9 splices
    keep: bool = False


_SPLICE = re.compile(r"(\$TAG\[\d+\]|\$TAG|\$\d|\$[A-Za-z_][\w.]*)")


def compile_tag_template(template: str, rule_key: str, rule_pattern: str,
                         tag_col: str = "tag") -> Column:
    """Compile a NEW_TAG template into one concat() Column expression.
    Regex captures are re-extracted natively via regexp_extract — JVM-side,
    no UDF."""
    parts: list[Column] = []
    for tok in _SPLICE.split(template):
        if not tok:
            continue
        if tok == "$TAG":
            parts.append(F.col(tag_col))
        elif tok.startswith("$TAG["):
            n = int(tok[5:-1])
            parts.append(F.split(F.col(tag_col), r"\.")[n])
        elif re.fullmatch(r"\$\d", tok):
            parts.append(
                F.regexp_extract(F.col(rule_key).cast("string"),
                                 rule_pattern, int(tok[1:])))
        elif tok.startswith("$"):
            parts.append(F.col(tok[1:]).cast("string"))
        else:
            parts.append(F.lit(tok))
    return F.concat(*parts)


def apply_rewrite_tag(df: DataFrame, rules: list[RewriteTagRule],
                      tag_col: str = "tag",
                      gate: Column | None = None) -> DataFrame:
    """First matching rule wins (reference evaluates rules in order).
    Only rows where ``gate`` holds are rewritten (the filter's Match).

    keep=False → the row's tag is replaced in place.
    keep=True  → the original row is kept AND a re-tagged copy is emitted
    (in_emitter re-injection): one ``explode`` over
    ``array(original, rewritten)`` on matched rows and ``array(original)``
    otherwise, so the plan below stays a single branch and everything
    under it (scan, parse, joins) runs once per input row. Single-pass
    semantics: the rewritten tag is NOT re-run through the rules (we
    forbid rewrite cycles; the reference re-enters its router — document
    as 1-pass).
    """
    if not rules:
        return df
    # the winning rule's template and keep flag, as ordered CASE
    # expressions so resolution respects the global rule order
    tag_case = keep_case = None
    for r in rules:
        cond = F.col(r.key).cast("string").rlike(r.pattern)
        tag_expr = compile_tag_template(r.new_tag, r.key, r.pattern,
                                        tag_col)
        tag_case = (F.when(cond, tag_expr) if tag_case is None
                    else tag_case.when(cond, tag_expr))
        keep_case = (F.when(cond, F.lit(r.keep)) if keep_case is None
                     else keep_case.when(cond, F.lit(r.keep)))

    matched = tag_case.isNotNull()
    if gate is not None:
        matched = matched & gate
    if not any(r.keep for r in rules):
        return df.withColumn(
            tag_col, F.when(matched, tag_case).otherwise(F.col(tag_col)))
    return df.withColumn(tag_col, F.explode(
        F.when(matched & keep_case, F.array(F.col(tag_col), tag_case))
         .when(matched, F.array(tag_case))
         .otherwise(F.array(F.col(tag_col)))))
