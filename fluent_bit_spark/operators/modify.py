"""filter_modify: conditions + rules (SURVEY.md §2.3).

Reference: upstream:plugins/filter_modify/modify.c — a rule list applied
to each record when ALL conditions hold. Our static schema makes wildcard
and regex key-sets resolvable at plan time (list comprehension over
df.columns) instead of per-record key scans.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Conditions (subset of upstream's 10; the ones with batch meaning)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Condition:
    kind: str            # see _CONDS
    key: str = ""
    value: str = ""


def condition_predicate(df: DataFrame, c: Condition) -> Column:
    cols = set(df.columns)
    if c.kind == "key_exists":
        return F.lit(c.key in cols) & (
            F.col(c.key).isNotNull() if c.key in cols else F.lit(False))
    if c.kind == "key_does_not_exist":
        return (F.lit(True) if c.key not in cols
                else F.col(c.key).isNull())
    if c.kind == "key_value_equals":
        return (F.col(c.key).cast("string") == c.value) \
            if c.key in cols else F.lit(False)
    if c.kind == "key_value_does_not_equal":
        return (F.col(c.key).cast("string") != c.value) \
            if c.key in cols else F.lit(True)
    if c.kind == "key_value_matches":
        return F.coalesce(
            F.col(c.key).cast("string").rlike(c.value), F.lit(False)) \
            if c.key in cols else F.lit(False)
    if c.kind == "key_value_does_not_match":
        return F.coalesce(
            ~F.col(c.key).cast("string").rlike(c.value), F.lit(True)) \
            if c.key in cols else F.lit(True)
    if c.kind == "a_key_matches":
        hit = [k for k in df.columns if re.search(c.key, k)]
        return F.lit(bool(hit))
    if c.kind == "no_key_matches":
        hit = [k for k in df.columns if re.search(c.key, k)]
        return F.lit(not hit)
    if c.kind in ("matching_keys_have_matching_values",
                  "matching_keys_do_not_have_matching_values"):
        hit = [k for k in df.columns if re.search(c.key, k)]
        if not hit:
            # vacuous truth, matching the reference's all-quantifier
            return F.lit(True)
        per_key = [F.coalesce(F.col(k).cast("string").rlike(c.value),
                              F.lit(False)) for k in hit]
        if c.kind.startswith("matching_keys_have"):
            return reduce(lambda a, b: a & b, per_key)
        return reduce(lambda a, b: a & b, [~p for p in per_key])
    raise ValueError(f"unknown condition {c.kind}")


# ---------------------------------------------------------------------------
# Rules
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class ModifyRule:
    op: str              # set|add|remove|remove_wildcard|remove_regex|
    #                      rename|hard_rename|copy|hard_copy
    key: str = ""
    value: str = ""      # new value (set/add) or new key (rename/copy)


@dataclass(frozen=True)
class ModifySpec:
    conditions: list[Condition] = field(default_factory=list)
    rules: list[ModifyRule] = field(default_factory=list)


def _apply_rule(df: DataFrame, r: ModifyRule, gate: Column) -> DataFrame:
    """Apply one rule, but only on rows where ``gate`` holds — rows failing
    the conditions keep their original values. Structural ops (remove/
    rename) are schema-level: fluent-bit applies them per record, but a
    relational engine has one schema, so condition-gated structural ops
    gate on a plan-time constant condition (documented semantic shift)."""
    cols = df.columns
    if r.op == "set":
        if r.key in cols:
            return df.withColumn(
                r.key, F.when(gate, F.lit(r.value)).otherwise(F.col(r.key)))
        return df.withColumn(r.key, F.when(gate, F.lit(r.value)))
    if r.op == "add":  # only if absent
        if r.key in cols:
            return df
        return df.withColumn(r.key, F.when(gate, F.lit(r.value)))
    if r.op == "remove":
        return df.drop(r.key)
    if r.op == "remove_wildcard":
        return df.drop(*[k for k in cols if k.startswith(r.key)])
    if r.op == "remove_regex":
        return df.drop(*[k for k in cols if re.search(r.key, k)])
    if r.op == "rename":  # no-op if target exists
        if r.value in cols or r.key not in cols:
            return df
        return df.withColumnRenamed(r.key, r.value)
    if r.op == "hard_rename":  # overwrite target
        if r.key not in cols:
            return df
        if r.value in cols:
            df = df.drop(r.value)
        return df.withColumnRenamed(r.key, r.value)
    if r.op == "copy":
        if r.value in cols or r.key not in cols:
            return df
        return df.withColumn(r.value, F.col(r.key))
    if r.op == "hard_copy":
        if r.key not in cols:
            return df
        return df.withColumn(r.value, F.col(r.key))
    raise ValueError(f"unknown modify op {r.op}")


def apply_modify(df: DataFrame, spec: ModifySpec,
                 gate: Column | None = None) -> DataFrame:
    """The rules, gated by the conditions and by ``gate`` (the filter's
    Match) when one is given."""
    gate = reduce(lambda a, b: a & b,
                  [condition_predicate(df, c) for c in spec.conditions],
                  F.lit(True) if gate is None else gate)
    for r in spec.rules:
        df = _apply_rule(df, r, gate)
    return df
