"""Profile comparison — schema-evolution verdicts computed on DATA, not DDL.

The reference enforces schema compatibility on *declared* schemas at registry
time (operators/registry.py replicates it). This is the same idea applied one
level down: compare two runs' column profiles (operators/profile.py long
format) and classify every column's drift as OK / WARN / BREAKING — the check
a continuously-validated table needs between snapshots ("did the upstream
producer change what it writes?").

Rules (deterministic, documented — severity BREAKING > WARN > OK):

* column present in baseline but not current        → BREAKING (removed)
* inferred type narrowed / changed incomparably     → BREAKING
  (widening ladder boolean < int < float < string==union; any move DOWN the
  ladder, or between unranked types, breaks readers of the old contract)
* baseline had zero nulls but current has some      → BREAKING
  (an implicit NOT NULL contract was broken)
* column new in current                             → WARN (added)
* inferred type widened (up the ladder)             → WARN
* null_rate rose by more than ``null_rate_warn``    → WARN
* distinct count ratio outside [1/r, r]             → WARN
* otherwise                                         → OK

Plan shape: a full-outer join of two profile frames — both sides are one row
per (partition_key, column), i.e. tiny regardless of table size (the heavy
scan already happened inside ``profile``); every verdict is plain column math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: widening ladder; union counts as string (it IS the "anything" type)
_TYPE_RANK = {"boolean": 0, "int": 1, "float": 2, "string": 3, "union": 3}


def _rank(c: F.Column) -> F.Column:
    expr = F.lit(None).cast("int")
    for name, r in _TYPE_RANK.items():
        expr = F.when(c == name, F.lit(r)).otherwise(expr)
    return expr


def profile_compare(
    current: DataFrame,
    baseline: DataFrame,
    null_rate_warn: float = 0.01,
    distinct_ratio_warn: float = 2.0,
) -> DataFrame:
    """Join two ``profile()`` outputs and emit one verdict row per column.

    Output: (partition_key, col_name, status, type_base, type_cur,
    type_change, null_rate_base, null_rate_cur, null_rate_delta,
    distinct_base, distinct_cur, verdict) — ``status`` in
    {added, removed, common}; ``type_change`` in
    {same, widened, narrowed, changed} (NULL for added/removed).
    """

    def side(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.col("partition_key"),
            F.col("column").alias("col_name"),
            F.col("inferred_type").alias(f"type_{tag}"),
            F.round(F.col("null_rate"), 6).cast("double").alias(f"null_rate_{tag}"),
            F.col("null_count").alias(f"null_count_{tag}"),
            F.col("distinct_approx").alias(f"distinct_{tag}"),
        )

    j = side(current, "cur").join(
        side(baseline, "base"), on=["partition_key", "col_name"], how="full_outer"
    )

    status = (
        F.when(F.col("type_base").isNull(), F.lit("added"))
        .when(F.col("type_cur").isNull(), F.lit("removed"))
        .otherwise(F.lit("common"))
    )
    rb, rc = _rank(F.col("type_base")), _rank(F.col("type_cur"))
    type_change = F.when(status != "common", F.lit(None).cast("string")).otherwise(
        F.when(F.col("type_base") == F.col("type_cur"), F.lit("same"))
        .when(rb.isNull() | rc.isNull(), F.lit("changed"))
        .when(rc > rb, F.lit("widened"))
        .otherwise(F.lit("narrowed"))
    )
    null_delta = F.when(
        status == "common",
        F.round(F.col("null_rate_cur") - F.col("null_rate_base"), 6).cast("double"),
    )
    ratio_bad = (
        (F.col("distinct_base") > 0)
        & (F.col("distinct_cur") > 0)
        & (
            (F.col("distinct_cur") > F.col("distinct_base") * distinct_ratio_warn)
            | (F.col("distinct_base") > F.col("distinct_cur") * distinct_ratio_warn)
        )
    )
    verdict = (
        F.when(status == "removed", F.lit("BREAKING"))
        .when(type_change.isin("narrowed", "changed"), F.lit("BREAKING"))
        .when(
            (status == "common")
            & (F.col("null_count_base") == 0)
            & (F.col("null_count_cur") > 0),
            F.lit("BREAKING"),
        )
        .when(status == "added", F.lit("WARN"))
        .when(type_change == "widened", F.lit("WARN"))
        .when(null_delta > null_rate_warn, F.lit("WARN"))
        .when((status == "common") & ratio_bad, F.lit("WARN"))
        .otherwise(F.lit("OK"))
    )
    return j.select(
        "partition_key",
        "col_name",
        status.alias("status"),
        "type_base",
        "type_cur",
        type_change.alias("type_change"),
        "null_rate_base",
        "null_rate_cur",
        null_delta.alias("null_rate_delta"),
        "distinct_base",
        "distinct_cur",
        verdict.alias("verdict"),
    )


def quantile_drift_verdicts(
    current: DataFrame,
    baseline: DataFrame,
    shift_threshold: float = 0.25,
    eps: float = 1e-12,
) -> DataFrame:
    """Numeric-SHIFT verdicts from two :func:`~..operators.profile.
    profile_merge` outputs — the quantile companion to :func:`profile_compare`,
    and the last leg of the artifacts-only drift composition: period-over-
    period numeric drift ("did turn lengths shift this week?") answered from
    persisted partial-profile rows alone, ZERO input rescans.

    Metric: each of the merged [p25, p50, p75] quantiles, shifted by
    ``|q_cur − q_base| / max(IQR_base, eps)`` — IQR-normalized so the verdict
    is scale-free; ``max_shift`` is the worst of the three and the row FAILS
    when it exceeds ``shift_threshold``. A constant baseline (IQR 0) falls
    back to the raw |Δ| against eps, i.e. any movement fails — a constant
    column that starts moving is exactly the shift worth flagging.

    CAVEAT (by design, same posture as ``distinct_approx``): the merged
    quantiles are KLL ESTIMATES within the sketch's rank-error bound, so this
    check is a pytest-bounded operator, NOT a cross-engine-exact one — keep
    ``shift_threshold`` comfortably above the sketch noise (the default 0.25
    is ~10x the k=200 rank error on smooth distributions) and out of
    hash-exact driver comparisons.

    Plan: a join of two artifact-sized frames on (partition_key, column) —
    columns with quantiles on only one side (added/removed/non-numeric) are
    excluded here; :func:`profile_compare` already reports those. Output:
    (partition_key, col_name, q_base, q_cur, max_shift, pass).
    """
    if shift_threshold <= 0:
        raise ValueError(
            f"quantile_drift_verdicts: shift_threshold must be > 0: {shift_threshold}"
        )

    def side(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            "partition_key",
            F.col("column").alias("col_name"),
            F.col("quantiles").alias(f"q_{tag}"),
        ).filter(F.col(f"q_{tag}").isNotNull())

    j = side(current, "cur").join(
        side(baseline, "base"), on=["partition_key", "col_name"], how="inner"
    )
    iqr = F.col("q_base")[2] - F.col("q_base")[0]
    denom = F.greatest(iqr, F.lit(eps))
    shifts = F.transform(
        F.sequence(F.lit(0), F.lit(2)),
        lambda i: F.abs(F.col("q_cur")[i] - F.col("q_base")[i]) / denom,
    )
    max_shift = F.array_max(shifts)
    return j.select(
        "partition_key",
        "col_name",
        "q_base",
        "q_cur",
        max_shift.cast("double").alias("max_shift"),
        (max_shift <= F.lit(shift_threshold)).alias("pass"),
    )
