"""Two-sample Kolmogorov–Smirnov and Wasserstein-1 drift statistics for
numeric columns.

Complements the PSI/KL/JS of categorical series: KS is the classic
distribution-shift test for *numeric* columns — the supremum of the absolute
difference between the two empirical CDFs; Wasserstein-1 integrates the same
gap (``∫|CDF_a − CDF_b| dv``), catching small-but-everywhere shifts the sup
saturates on. This module only builds the counts: both statistics come from
checks/drift.drift_terms / drift_compare, the one definition of the CDF gap,
its location and the W1 interval term. Two count modes, as in the rest of
the repo:

* default ``n_buckets=1000``: values are equal-width-quantized first, so the
  CDF domain is bounded — the ordered window the cumulative sums need runs
  over ≤ n_buckets rows per series no matter the table size (the
  discretized KS is exact for the quantized distributions and a lower bound
  for the raw ones; bucket count trades resolution for boundedness);
* ``n_buckets=None``: exact KS over the raw distinct values — an explicit
  test-scale opt-in (the repo invariant: unbounded modes are never defaults),
  since a continuous column could have |table| distinct values and the final
  window would see all of them.

Plan shape: map-side projection → groupBy(value) per side (map-side
combinable, one row per distinct value/bucket) → drift_compare's one window
sort and one aggregation over the bounded value domain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import broadcast


def _two_sample(
    a: DataFrame, b: DataFrame, column: str, n_buckets: int | None, *stats: str
) -> DataFrame:
    """``stats`` of drift_compare and the side totals (n_a, n_b) in ONE row:
    side *a* is the base, *b* the current, each counted per value (or per
    quantized bucket edge) in the drift_counts shape, on ONE equal-width
    grid over the union's range so both sides quantize identically (lo/hi
    are a 2-value broadcast, not a driver collect). NULLs are excluded (KS
    is a statement about values, not missingness — pair with the profile's
    null_rate for that)."""
    from .drift import drift_compare

    va, vb = (
        d.select(F.col(column).cast("double").alias("v")).filter(F.col("v").isNotNull())
        for d in (a, b)
    )
    if n_buckets is not None:
        bounds = va.unionAll(vb).agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        lo, hi = F.col("lo"), F.col("hi")
        bkt = F.when(hi == lo, F.lit(0)).otherwise(
            F.least(F.floor((F.col("v") - lo) / ((hi - lo) / n_buckets)), F.lit(n_buckets - 1))
        )
        va, vb = (
            d.crossJoin(broadcast(bounds)).select((lo + bkt * (hi - lo) / n_buckets).alias("v"))
            for d in (va, vb)
        )

    def counts(vals: DataFrame) -> DataFrame:
        return vals.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("cnt")).select(
            F.lit(column).alias("column"), F.lit(None).cast("string").alias("bucket"), "v", "cnt"
        )

    # a global aggregate over the ≤ 1 series row: one row even when both
    # sides are empty (and compare nothing), NULL stats then
    return drift_compare(counts(vb), counts(va)).agg(
        *(F.max(c).alias(c) for c in stats),
        F.max("n_base").alias("n_a"),
        F.max("n_cur").alias("n_b"),
    )


def ks_statistic(
    a: DataFrame,
    b: DataFrame,
    column: str,
    n_buckets: int | None = 1000,
) -> DataFrame:
    """KS statistic between ``column`` of two frames.

    Returns one row: (ks_stat double, ks_at double, n_a long, n_b long) —
    ``ks_at`` is the smallest value/bucket-edge where the supremum is attained
    (deterministic tie-break). Empty sides yield ks_stat NULL rather than a
    misleading 0.
    """
    return _two_sample(a, b, column, n_buckets, "ks_stat", "ks_at")


def wasserstein_statistic(
    a: DataFrame,
    b: DataFrame,
    column: str,
    n_buckets: int | None = 1000,
) -> DataFrame:
    """Wasserstein-1 (earth-mover) distance between ``column`` of two frames.

    Complements :func:`ks_statistic`: KS is the *sup* of the CDF gap — blind
    to how WIDE the gap is; W1 integrates it (``∫ |CDF_a − CDF_b| dv``), so a
    small-but-everywhere shift (e.g. a unit conversion bug nudging every
    value 2%) scores proportionally to the shift magnitude where KS
    saturates. Same quantized-grid counts and boundedness argument as KS;
    the discretized W1 is exact for the quantized distributions.

    Returns one row: (w1 double, n_a long, n_b long) — ``w1`` in the
    column's own units. Empty sides yield NULL.
    """
    return _two_sample(a, b, column, n_buckets, "w1")


# ---------------------------------------------------------------------------
# fixed-grid form — the run-over-run baseline path
# ---------------------------------------------------------------------------
#
# ks_statistic quantizes onto a grid derived from BOTH sides' range, which a
# persisted baseline cannot know in advance. The baseline flow instead fixes
# the grid at baseline time ([lo, hi] of the baseline data) and clamps future
# runs' values onto it: out-of-range drift collapses into the edge buckets,
# which can only *under*-state the KS (the check stays conservative, never
# spurious), while any in-range shape change is measured normally.


def grid_quantize(v: F.Column, lo: float, hi: float, n_buckets: int) -> F.Column:
    """Clamp ``v`` into [lo, hi] and snap to its bucket's left edge."""
    if hi <= lo:
        return F.lit(float(lo))
    clamped = F.greatest(F.least(v, F.lit(float(hi))), F.lit(float(lo)))
    bkt = F.least(
        F.floor((clamped - lo) / ((hi - lo) / n_buckets)), F.lit(n_buckets - 1)
    )
    return F.lit(float(lo)) + bkt * (hi - lo) / n_buckets
