"""Rules: the one representation of a Pass-B check.

Every check — the built-ins (nulls, domains, uniqueness, contiguity, …), the
config-enabled conversation checks (boundary roles, transition whitelist,
role alternation) and user-declared expression constraints ("turn_idx under
the product cap", "text at least N chars") — is a :class:`Rule`: a boolean
pass predicate plus how to render a failure. ``plans/validate.py`` compiles
any rule list into the single fused plan; ``expr_suite_violations`` is the
same compilation for row rules alone (a pure projection — one scan, ZERO
exchanges, output rows ∝ violations — which is also what makes it valid on a
streaming frame).

Plan shape: per row, an array of per-rule CASE structs is filtered to the
failing rules and exploded.

NULL semantics: a predicate that evaluates to NULL is a FAILURE, never a
silent pass (same posture as datapipe/text.quality_funnel) — an unevaluable
constraint is a data defect. Declare NULL-tolerant rules explicitly
(``x IS NULL OR x <= cap``). Built-in checks that fire only when their fail
condition is TRUE say so with :func:`unless`.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, functions as F

from schema_infer_plugin_spark.schema import violation


class Rule(NamedTuple):
    """(check_name, predicate, column, observed, expected[, conv]).

    ``predicate`` (pass condition) and ``observed`` accept a Column or a
    Spark-SQL string; ``expected`` is a Column or a literal description.
    ``conv`` marks a conversation rule: it reads the annotated frame of
    plans/validate.py (prev_idx, prev_ts, prev_role, key_count, is_first,
    is_last) and runs after the exchange; row rules run before it."""

    name: str
    predicate: Column | str
    column: str
    observed: Column | str
    expected: Column | str
    conv: bool = False


def unless(fail: Column) -> Column:
    """Pass predicate of a check that fails only where ``fail`` is TRUE — a
    NULL fail condition passes (the built-in checks' semantics)."""
    return ~F.coalesce(fail, F.lit(False))


def as_rules(rules) -> list[Rule]:
    """``rules`` as Rule tuples (config supplies plain 5-lists), refusing an
    empty list or colliding check names."""
    rules = [Rule(*r) for r in rules]
    if not rules:
        raise ValueError("rules must be non-empty")
    names = [r.name for r in rules]
    dups = sorted({n for n in names if names.count(n) > 1})
    if dups:
        raise ValueError(f"rule names collide: {dups}")
    return rules


def _expr(x: Column | str) -> Column:
    return F.expr(x) if isinstance(x, str) else x


def failed(rule: Rule) -> Column:
    """TRUE where ``rule`` fails: its predicate is FALSE or NULL."""
    return ~F.coalesce(_expr(rule.predicate), F.lit(False))


def violation_array(rules: list[Rule]) -> Column:
    """array<violation struct> of the rules that fail on the current row."""
    return F.filter(
        F.array(
            *[
                F.when(
                    failed(r),
                    violation(
                        r.name,
                        r.column,
                        _expr(r.observed),
                        F.lit(r.expected) if isinstance(r.expected, str) else r.expected,
                    ),
                )
                for r in rules
            ]
        ),
        lambda v: v.isNotNull(),
    )


def explode_violations(
    df: DataFrame, violations: Column, keys: tuple[str, ...] = ("conv_id", "turn_idx")
) -> DataFrame:
    """One row per array element of ``violations``, standard shape:
    (check_name, *keys, column, observed, expected)."""
    return df.select(*keys, F.explode(violations).alias("_v")).select(
        F.col("_v.check_name").alias("check_name"),
        *keys,
        F.col("_v.column").alias("column"),
        F.col("_v.observed").alias("observed"),
        F.col("_v.expected").alias("expected"),
    )


def expr_suite_violations(
    df: DataFrame,
    rules: list[Rule],
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Row rules as a pure projection: one violation row per (row, failing
    rule), (check_name, *keys, column, observed, expected)."""
    return explode_violations(df, violation_array(as_rules(rules)), keys)
