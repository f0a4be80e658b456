"""Cross-column correlation profile from exact integer sums.

The scalar profile (operators/profile.py) sees each column alone; drift checks
(checks/drift.py) see each distribution alone. Neither can see the STRUCTURE
between columns — e.g. "later turns carry longer messages" (turn_idx vs
text length). When a producer change breaks that coupling, every marginal
histogram can stay flat while the joint relationship collapses; Pearson
correlation per group is the cheapest detector of that failure class, and the
numeric companion to the categorical mutual information (checks/entropy.py).

Numeric determinism (the cross-engine oracle contract): ``corr`` is NOT
computed with the engines' built-in ``corr()`` aggregates — those sum doubles
in partition order and disagree across engines (and across runs). Instead the
five sufficient statistics (Σx, Σy, Σxy, Σx², Σy²) are summed as
DECIMAL(38,0) — exact and order-independent at any scale (per-row products
are DECIMAL(19,0)×DECIMAL(19,0) → DECIMAL(38,0), exact for any int64 inputs)
— then cast to DOUBLE once and combined in a FIXED formula:

    corr = (n·Σxy − Σx·Σy) / (sqrt(n·Σx² − Σx·Σx) · sqrt(n·Σy² − Σy·Σy))
    cov  = (n·Σxy − Σx·Σy) / (n·n)          (population covariance)

identical double operations on identical inputs → bit-identical across
engines; rounded to 6 digits with the ``+ 0.0`` IEEE −0.0 guard (CLAUDE.md
invariant). Degenerate groups (either variance 0) yield NULL corr, never a
0/0 NaN.

Scale posture: ONE hash aggregation (map-side combined), shuffle rows ∝
groups. Inputs must be INTEGER-valued expressions — that is what makes the
sums exact; pre-bucket real-valued columns first (the same discipline as the
drift histograms).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _as_col(x: "Column | str") -> Column:
    return F.expr(x) if isinstance(x, str) else x


def grouped_int_corr(
    df: DataFrame,
    x: "Column | str",
    y: "Column | str",
    group_by: str | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Pearson correlation and population covariance of two integer-valued
    expressions, optionally per group.

    Rows where EITHER side is NULL are excluded (correlation is a statement
    about observed pairs; NULL-coupling is checks/domains territory). Output:
    (grp?, n_rows, corr_xy, cov_xy).
    """
    state = grouped_int_corr_partial(df, x, y, group_by=group_by)
    return _finalize(state, grouped=group_by is not None, round_digits=round_digits)


def grouped_int_corr_partial(
    df: DataFrame,
    x: "Column | str",
    y: "Column | str",
    group_by: str | None = None,
) -> DataFrame:
    """The mergeable state behind :func:`grouped_int_corr`: one row per group
    of exact sufficient statistics (n_rows, Σx, Σy, Σxy, Σx², Σy² as
    DECIMAL(38,0)) — additive, so "correlation over the last 90 days" is a
    sum of 90 persisted state rows, zero input rescans (the operators/profile
    mergeable-state design applied to a PAIR statistic; unlike the HLL/KLL
    columns there, this merge is EXACT)."""
    xc = _as_col(x).cast("decimal(19,0)")
    yc = _as_col(y).cast("decimal(19,0)")
    base = df.select(
        *([F.col(group_by).alias("grp")] if group_by else []),
        xc.alias("x"),
        yc.alias("y"),
    ).filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    return base.groupBy(*(["grp"] if group_by else [])).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
    )


def grouped_int_corr_merge(
    partials: DataFrame,
    round_digits: int = 6,
) -> DataFrame:
    """Merge :func:`grouped_int_corr_partial` state rows (same run or many)
    into the final (grp?, n_rows, corr_xy, cov_xy) frame. Exact under merge:
    the statistics are plain sums, so any split of the input produces
    bit-identical results to the direct computation. Work ∝ state rows."""
    grouped = "grp" in partials.columns
    merged = partials.groupBy(*(["grp"] if grouped else [])).agg(
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("sx").cast("decimal(38,0)").alias("sx"),
        F.sum("sy").cast("decimal(38,0)").alias("sy"),
        F.sum("sxy").cast("decimal(38,0)").alias("sxy"),
        F.sum("sxx").cast("decimal(38,0)").alias("sxx"),
        F.sum("syy").cast("decimal(38,0)").alias("syy"),
    )
    return _finalize(merged, grouped=grouped, round_digits=round_digits)


def _finalize(state: DataFrame, grouped: bool, round_digits: int) -> DataFrame:
    n = F.col("n_rows").cast("double")
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    num = n * dbl("sxy") - dbl("sx") * dbl("sy")
    denx = n * dbl("sxx") - dbl("sx") * dbl("sx")
    deny = n * dbl("syy") - dbl("sy") * dbl("sy")
    corr = F.when(
        (denx > 0) & (deny > 0),
        F.round(num / (F.sqrt(denx) * F.sqrt(deny)), round_digits) + F.lit(0.0),
    ).cast("double")
    cov = (F.round(num / (n * n), round_digits) + F.lit(0.0)).cast("double")
    return state.select(
        *(["grp"] if grouped else []),
        "n_rows",
        corr.alias("corr_xy"),
        cov.alias("cov_xy"),
    )
