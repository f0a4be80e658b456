"""Distribution drift between a current run and a baseline: PSI / KL / JS
and chi-square for categorical series, two-sample KS and Wasserstein-1 for
numeric grid series.

The reference has no drift notion (it sees one sample); this is the engine's
generalization for continuous validation, as plain column math — no UDF
(SURVEY.md §4.4: "plain DataFrame math"). Two definitions carry every drift
check, in the shape of mergeable partial counts finished in one aggregation:

* :func:`drift_counts` counts every series of a frame — categorical
  columns, the ``prev->role`` transitions, numeric columns on a fixed grid,
  optionally per group key such as an event-time window — as ONE stacked
  ``(by…, column, bucket, v, cnt)`` frame. write_histograms persists it
  whole, as one baseline file; run_drift and the windowed faces recount
  through it and compare against that file.
* :func:`drift_terms` pairs two such frames per cell and projects every
  per-cell term; :func:`drift_compare` is ONE grouped aggregation over those
  terms giving every statistic of every series.

Scale: counts are a groupBy over *bounded* bucket domains (categorical
values or grid points), so the comparison only ever sees series × buckets
rows, never the table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.functions import broadcast

from schema_infer_plugin_spark.schema import conv_order, null_key_salt, well_keyed_predicate

from .ksdrift import grid_quantize

#: the (prev_role -> role) series of :func:`drift_counts`, by this column name
TRANSITIONS = "__transitions__"


def category_bucket(c: Column) -> Column:
    """A categorical value as its histogram bucket; NULL is ``'<null>'``."""
    return F.coalesce(c.cast("string"), F.lit("<null>"))


def with_transition(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """``df`` plus ``_transition``: the ``'prev->role'`` bucket on a turn that
    completes a transition, NULL on every other row — the ONE rule for which
    turns count (alternation.transition_buckets, :func:`drift_counts`). A
    transition is a well-keyed turn that is not its conversation's opener in
    schema.conv_order(ts_col). One lag window partitioned on (conv_id,
    schema.null_key_salt) like the fused Pass B: keyless rows sit in their
    own salted partitions, so they never enter a real conversation's lag
    chain, and a conv_id-bucketed scan needs no exchange."""
    w = Window.partitionBy("conv_id", "_ksalt").orderBy(*conv_order(ts_col))
    # turn_idx is non-NULL on well-keyed rows, so a NULL lag of it marks
    # exactly the conversation's opener
    counts = well_keyed_predicate() & F.lag("turn_idx").over(w).isNotNull()
    bucket = F.concat(
        category_bucket(F.lag("role").over(w)), F.lit("->"), category_bucket(F.col("role"))
    )
    return (
        df.select("*", null_key_salt().alias("_ksalt"))
        .select("*", F.when(counts, bucket).alias("_transition"))
        .drop("_ksalt")
    )


def histogram(df: DataFrame, column: str, n_buckets: int | None = None) -> DataFrame:
    """Relative-frequency histogram of ``column`` → (bucket string, freq double).

    Categorical columns bucket by value (NULL → '<null>'); numeric columns pass
    ``n_buckets`` to floor-bucket into equal-width bins over [min, max].
    """
    if n_buckets is None:
        bucketed = df.select(category_bucket(F.col(column)).alias("bucket"))
    else:
        stats = df.agg(
            F.min(F.col(column).cast("double")).alias("lo"),
            F.max(F.col(column).cast("double")).alias("hi"),
        )
        bucketed = df.crossJoin(broadcast(stats)).select(
            F.least(
                F.floor(
                    (F.col(column).cast("double") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / n_buckets)
                ),
                F.lit(n_buckets - 1),
            )
            .cast("string")
            .alias("bucket")
        )
    counts = bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    total = Window.partitionBy()
    return counts.select(
        "bucket", (F.col("cnt") / F.sum("cnt").over(total)).alias("freq")
    )


def bucket_counts(df: DataFrame, column: str) -> DataFrame:
    """Exact categorical count frame of ``column`` → (bucket string, cnt long).

    The COUNT-preserving sibling of :func:`histogram` (which normalizes to
    frequencies): the chi-square term needs raw counts because the chi-square
    statistic's magnitude scales with sample size — frequencies alone can't
    express it. NULL → '<null>'. One hash agg over the bounded bucket domain.
    """
    return (
        df.select(category_bucket(F.col(column)).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def drift_counts(
    df: DataFrame,
    columns: list[str],
    grids: dict[str, tuple[float, float, int]] | None = None,
    by: Sequence[str] = (),
) -> DataFrame:
    """Every drift series of ``df`` from ONE scan, one explode and one
    groupBy → (by…, column, bucket, v, cnt), a row per occupied cell; ``by``
    names columns of ``df`` that lead the group key (an event-time window,
    a half — :func:`windowed_counts`, :func:`median_halves`). A name in
    ``columns`` is categorical (``bucket`` = :func:`category_bucket`, ``v``
    NULL); :data:`TRANSITIONS` is the 'prev->role' series of
    :func:`with_transition`; ``grids`` maps a numeric column to ``(lo, hi,
    n_buckets)`` (``v`` = ksdrift.grid_quantize of non-NULL values,
    ``bucket`` NULL). The transition window runs on a slim projection, so
    ``text`` never shuffles."""
    grids = grids or {}
    cats = [c for c in dict.fromkeys(columns) if c != TRANSITIONS]
    null_v, null_bucket = F.lit(None).cast("double"), F.lit(None).cast("string")

    def cell(name: str, bucket: Column, v: Column) -> Column:
        return F.struct(F.lit(name).alias("column"), bucket.alias("bucket"), v.alias("v"))

    series = [cell(c, category_bucket(F.col(c)), null_v) for c in cats]
    for c, (lo, hi, n) in grids.items():
        raw = F.col(c).cast("double")
        series.append(F.when(raw.isNotNull(), cell(c, null_bucket, grid_quantize(raw, lo, hi, n))))
    keys = ["conv_id", "turn_idx", "role", "ts"] if TRANSITIONS in columns else []
    slim = df.select(*dict.fromkeys([*by, *cats, *grids, *keys]))
    if TRANSITIONS in columns:
        slim = with_transition(slim)
        series.append(
            F.when(F.col("_transition").isNotNull(), cell(TRANSITIONS, F.col("_transition"), null_v))
        )
    typed = "array<struct<column:string,bucket:string,v:double>>"  # no series: no rows
    cells = F.array(*series) if series else F.array().cast(typed)
    return (
        slim.select(*by, F.explode(cells).alias("_s"))
        .filter(F.col("_s").isNotNull())
        .groupBy(*by, "_s.column", "_s.bucket", "_s.v")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def _chi2_expr() -> Column:
    """Per-cell Pearson chi-square homogeneity term,
    (o_cur·n_base − o_base·n_cur)² / (n_cur·n_base·(o_cur+o_base)); its sum
    over a series is asymptotically χ²(k−1) under "same distribution", so it
    is calibrated where PSI thresholds are folklore, and it needs counts, not
    frequencies. Exact DECIMAL(19,0)×DECIMAL(19,0) cross products (fit
    DECIMAL(38,0)), each cast to double BEFORE the subtraction — a decimal
    subtraction would need precision 39; the double subtraction is the same
    fixed IEEE op in both engines (the grouped_int_corr oracle posture), so
    every term is bit-identical across engines and partitionings. NULL when
    either side is empty (no homogeneity question to ask), never NaN/Inf."""
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    diff = (dec("o_cur") * dec("n_base")).cast("double") - (
        dec("o_base") * dec("n_cur")
    ).cast("double")
    denom = (
        F.col("n_cur").cast("double")
        * F.col("n_base").cast("double")
        * (F.col("o_cur") + F.col("o_base")).cast("double")
    )
    return F.when((F.col("n_cur") > 0) & (F.col("n_base") > 0), diff * diff / denom)


def drift_terms(
    cur: DataFrame, base: DataFrame, by: Sequence[str] = (), eps: float = 1e-6
) -> DataFrame:
    """Per-cell drift terms between two stacked count frames in the
    :func:`drift_counts` shape ``(by…, column, bucket, v, cnt)`` — the ONE
    definition of every drift formula (PSI/KL/JS, chi-square, the KS CDF gap
    and the Wasserstein-1 interval).

    Cells pair up on ``(by…, column, bucket, v)`` — a full outer join
    spelled as union + groupBy, so the NULL ``bucket``/``v`` halves of a key
    match. A ``base`` without the ``by`` columns is crossed with ``cur``'s
    distinct groups (a bounded broadcast), so every group — an event-time
    window, say — is compared with one baseline. Cells zero on both sides
    are dropped: they carry no information, their chi-square term would be
    0/0, and they must not count toward dof. A series is ``(by…, column,
    grid)``, ``grid`` marking a numeric grid series (``bucket`` NULL).

    Output, one row per occupied cell: ``by…, column, grid, bucket, v,
    o_cur, o_base`` (the cell's counts), ``n_cur, n_base`` (the series
    totals), ``freq_cur, freq_base`` (o/n, 0.0 on an empty side, so the
    Laplace-eps terms stay finite), ``psi_term, kl_term, js_term`` (summed
    per series: PSI/KL/JS — JS, natural log, is the bounded symmetric
    companion, ≤ ln 2 even for a bucket on one side only), ``chi2_term``
    (:func:`_chi2_expr`) and, on grid cells, ``d`` = |CDF_cur − CDF_base| at
    ``v`` (NULL when a side is empty) and ``w1_term`` = (next v − v)·d — the
    last grid point's open tail, where both CDFs are 1, has none.

    Plan: both inputs are bounded (series × buckets or grid points) and meet
    in ONE exchange on ``(by…, column)``; the cell merge, then the totals,
    CDFs and next grid point (ONE window sort per series — the bounded-rows
    window exception) run on it without another shuffle.
    """
    by = list(by)
    if not set(by) <= set(base.columns):
        base = base.crossJoin(broadcast(cur.select(*by).distinct()))
    cell = [*by, "column", "bucket", "v"]
    zero = F.lit(0).cast("long")
    j = (
        cur.select(*cell, F.col("cnt").alias("o_cur"), zero.alias("o_base"))
        .unionByName(base.select(*cell, zero.alias("o_cur"), F.col("cnt").alias("o_base")))
        # the comparison's ONE exchange: the cell merge, the series window
        # and drift_compare's aggregation all cluster on (by…, column)
        .repartition(*by, "column")
        .groupBy(*cell)
        .agg(*(F.sum(o).cast("long").alias(o) for o in ("o_cur", "o_base")))
        .filter((F.col("o_cur") > 0) | (F.col("o_base") > 0))
        .withColumn("grid", F.col("bucket").isNull())
    )
    order = Window.partitionBy(*by, "column", "grid").orderBy("v", "bucket")
    upto = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    whole = order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    j = j.select(
        "*",
        *(F.sum(f"o_{s}").over(whole).alias(f"n_{s}") for s in ("cur", "base")),
        # try_divide: an empty side has total 0 → NULL CDF → NULL KS
        *(
            F.try_divide(F.sum(f"o_{s}").over(upto), F.sum(f"o_{s}").over(whole)).alias(f"cdf_{s}")
            for s in ("cur", "base")
        ),
        F.lead("v").over(order).alias("v_next"),
    )
    freq = lambda s: F.when(  # noqa: E731
        F.col(f"n_{s}") > 0, F.col(f"o_{s}") / F.col(f"n_{s}")
    ).otherwise(F.lit(0.0))
    j = j.select("*", freq("cur").alias("freq_cur"), freq("base").alias("freq_base"))
    p = F.col("freq_cur") + eps
    q = F.col("freq_base") + eps
    m = (p + q) / 2
    ratio = F.log(p / q)
    d = F.when(F.col("grid"), F.abs(F.col("cdf_cur") - F.col("cdf_base")))
    return j.select(
        *by,
        "column",
        "grid",
        "bucket",
        "v",
        "o_cur",
        "o_base",
        "n_cur",
        "n_base",
        "freq_cur",
        "freq_base",
        ((F.col("freq_cur") - F.col("freq_base")) * ratio).alias("psi_term"),
        (F.col("freq_cur") * ratio).alias("kl_term"),
        (0.5 * p * F.log(p / m) + 0.5 * q * F.log(q / m)).alias("js_term"),
        _chi2_expr().alias("chi2_term"),
        d.alias("d"),
        ((F.col("v_next") - F.col("v")) * d).alias("w1_term"),
    )


def drift_compare(
    cur: DataFrame, base: DataFrame, by: Sequence[str] = (), eps: float = 1e-6
) -> DataFrame:
    """Every drift statistic of every series in ONE grouped aggregation over
    :func:`drift_terms` → a row per ``(by…, column, grid)``: ``psi, kl, js``
    (read for categorical series; binned PSI on a grid), ``chi2`` (NULL when
    a side is empty) and ``dof`` = occupied cells − 1, ``ks_stat`` (the sup
    of the CDF gap, rounded to 6),
    ``ks_at`` (the smallest grid point attaining it — a deterministic
    tie-break) and ``w1`` (Σ w1_term, rounded to 6; 0.0 for a one-point
    grid, where identical point masses are distance 0) for grid series —
    KS/W1 NULL when a side is empty, never a misleading 0 — and the totals
    ``n_cur, n_base``. A series empty on both sides has no cells, hence no
    row.

    ks_stat/ks_at/dof and the totals derive from exact-count arithmetic
    (hash-comparable across engines); psi/kl/js/chi2/w1 are double SUMS —
    metrics, never exact comparisons. The aggregation groups on the
    terms' own partitioning, so it adds no exchange and sums each series in
    (v, bucket) order."""
    t = drift_terms(cur, base, by, eps)
    # the sup and its location in one aggregate: the max of (d, −v) is the
    # largest gap, ties broken to the smallest v
    sup = F.max(F.struct("d", (-F.col("v")).alias("neg_v")))
    both = (F.max("n_cur") > 0) & (F.max("n_base") > 0)
    return t.groupBy(*by, "column", "grid").agg(
        F.sum("psi_term").alias("psi"),
        F.sum("kl_term").alias("kl"),
        F.sum("js_term").alias("js"),
        F.sum("chi2_term").alias("chi2"),
        (F.count(F.lit(1)) - 1).cast("long").alias("dof"),
        F.round(sup["d"], 6).cast("double").alias("ks_stat"),
        F.when(sup["d"].isNotNull(), -sup["neg_v"]).cast("double").alias("ks_at"),
        F.when(
            F.col("grid") & both,
            F.coalesce(F.round(F.sum("w1_term"), 6) + F.lit(0.0), F.lit(0.0)),
        )
        .cast("double")
        .alias("w1"),
        F.max("n_cur").alias("n_cur"),
        F.max("n_base").alias("n_base"),
    )


def windowed_counts(
    df: DataFrame,
    columns: list[str],
    grids: dict[str, tuple[float, float, int]] | None = None,
    ts_col: str = "ts",
    window_duration: str = "1 day",
) -> DataFrame:
    """:func:`drift_counts` per tumbling event-time window →
    ``(window_start, window_end, column, bucket, v, cnt)``; rows without an
    event time are not counted (a windowed count is a statement about
    timestamped values). The one window key of the batch face (CLI
    ``window-drift``) and the streaming faces (streaming/incremental.
    windowed_*_stream, which set the watermark on ``ts_col`` first): the
    window is taken on the ``ts_col`` attribute itself when it already is a
    TIMESTAMP, so the watermark's event-time marker reaches the group key."""
    ts = F.col(ts_col)
    if dict(df.dtypes)[ts_col] != "timestamp":
        ts = ts.cast("timestamp")
    keyed = df.filter(ts.isNotNull()).withColumn("window", F.window(ts, window_duration))
    return drift_counts(keyed, columns, grids, by=["window"]).select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "column",
        "bucket",
        "v",
        "cnt",
    )


def histogram_equidepth(
    df: DataFrame,
    column: str,
    n_buckets: int = 10,
    approx: bool = True,
    round_digits: int = 6,
) -> DataFrame:
    """Equi-DEPTH histogram: bucket edges at the column's own quantiles, so
    every bucket holds ~1/n of the rows — the robust companion to the
    equal-width :func:`histogram` (one outlier stretches equal-width bins
    into uselessness; quantile edges don't move).

    Plan: one aggregation derives the n-1 interior edges (a single broadcast
    row), then bucket assignment is a map-side per-row fold over the edge
    array (count of edges strictly below the value — JVM HOF, no UDF) and
    one hash agg counts per bucket. ``approx=True`` (default, the 10^12-row
    path) uses the percentile_approx sketch; ``approx=False`` is the exact
    opt-in whose edges match DuckDB ``quantile_cont`` for the oracle.

    Edges are rounded to ``round_digits`` BEFORE bucket assignment (the
    iqr_outliers convention): interpolated quantiles differ by an ulp
    between engines, and a data value sitting exactly on an edge would
    otherwise flip buckets on that invisible difference.

    Output: (bucket int, edge_lo double, edge_hi double, cnt long) — edge_lo
    of bucket 0 and edge_hi of the last bucket are the column min/max;
    NULLs are excluded.
    """
    c = F.col(column).cast("double")
    probs = F.array(*[F.lit(i / n_buckets) for i in range(1, n_buckets)])
    quant = F.percentile_approx(c, probs) if approx else F.percentile(c, probs)
    nn = df.filter(c.isNotNull())
    stats = nn.agg(
        F.transform(quant, lambda e: F.round(e, round_digits)).alias("_edges"),
        F.round(F.min(c), round_digits).alias("_lo"),
        F.round(F.max(c), round_digits).alias("_hi"),
    )
    x = c
    bucket = F.aggregate(
        F.col("_edges"),
        F.lit(0),
        lambda acc, e: acc + (x > e).cast("int"),
    )
    counts = (
        nn.crossJoin(broadcast(stats))
        .select(bucket.alias("bucket"), "_edges", "_lo", "_hi")
        .groupBy("bucket", "_edges", "_lo", "_hi")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    lo_edge = F.when(
        F.col("bucket") == 0, F.col("_lo")
    ).otherwise(F.element_at(F.col("_edges"), F.col("bucket")))
    hi_edge = F.when(
        F.col("bucket") == n_buckets - 1, F.col("_hi")
    ).otherwise(F.element_at(F.col("_edges"), F.col("bucket") + 1))
    return counts.select(
        "bucket",
        F.round(lo_edge, round_digits).cast("double").alias("edge_lo"),
        F.round(hi_edge, round_digits).cast("double").alias("edge_hi"),
        F.col("cnt").cast("long").alias("cnt"),
    )


def median_halves(
    df: DataFrame, ts_us: str, columns: list[str], approx: bool = True
) -> tuple[DataFrame, DataFrame]:
    """(later, earlier) :func:`drift_counts` of ``columns`` in ``df``, split
    at the median of the epoch-µs column ``ts_us`` — the count side of the
    zero-config self-drift checks. The median is one aggregation broadcast
    as a single row; both halves come from ONE count keyed by the half, and
    a row with a NULL ``ts_us`` is in neither. ``approx=True`` uses the
    percentile_approx sketch; ``approx=False`` is the exact opt-in matching
    DuckDB ``quantile_cont`` for the oracle."""
    x = F.col(ts_us)
    med = F.percentile_approx(x, F.lit(0.5)) if approx else F.percentile(x, F.lit(0.5))
    halves = df.crossJoin(broadcast(df.agg(med.alias("_med"))))
    counts = drift_counts(halves.withColumn("_late", x >= F.col("_med")), columns, by=["_late"])
    half = lambda late: counts.filter(F.col("_late") == late).drop("_late")  # noqa: E731
    return half(True), half(False)


def temporal_self_drift(
    df: DataFrame,
    column: str,
    ts_col: str = "ts",
    approx: bool = True,
) -> DataFrame:
    """ZERO-CONFIG drift: does ``column``'s distribution differ between the
    data's own earlier and later half (split at the median event time)? No
    baseline run or reference profile needed — the check a validation engine
    can run on any fresh table to spot mid-stream schema/behavior shifts
    (a producer redeploy halfway through the ingest window).

    Output: :func:`drift_terms` rows of the later half (cur) against the
    earlier one (base), a row per bucket; total drift = sum over buckets.
    """
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    return drift_terms(*median_halves(df.withColumn("_ts_us", ts_us), "_ts_us", [column], approx))
