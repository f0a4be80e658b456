"""Distribution drift: KL divergence / PSI of a column vs a baseline profile.

The reference has no drift notion (it sees one sample); this is the engine's
generalization for continuous validation: histogram the column in the current
run, join to the persisted baseline histogram on (bucket), and compute PSI/KL
as plain column math — no UDF (SURVEY.md §4.4: "plain DataFrame math").

:func:`drift_counts` is the ONE definition of the runner's drift series:
write_histograms persists its slices, run_drift recounts through it.

Scale: the histogram is a groupBy over a *bounded* bucket domain (categorical
values or floor-bucketed numerics), so the shuffle carries one row per bucket
per map partition; the drift join runs on two tiny histogram frames and is
always broadcast-able.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.functions import broadcast

from schema_infer_plugin_spark.schema import conv_order, null_key_salt, well_keyed_predicate

from .ksdrift import grid_quantize

#: the (prev_role -> role) series of :func:`drift_counts` (and its baseline dir)
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


def drift_stats(current: DataFrame, baseline: DataFrame, eps: float = 1e-6) -> DataFrame:
    """Per-bucket drift terms between two histograms → one summable row each.

    Output: (bucket, freq_base, freq_cur, psi_term, kl_term, js_term); total
    PSI/KL/JS are sums over the buckets. Laplace-eps keeps empty buckets
    finite. JS (Jensen–Shannon, natural log) is the bounded symmetric
    companion — ≤ ln 2 even when a bucket exists on only one side, where
    PSI/KL blow up toward the eps ceiling.
    """
    cur = current.withColumnRenamed("freq", "freq_cur")
    base = baseline.withColumnRenamed("freq", "freq_base")
    joined = cur.join(base, on="bucket", how="full_outer").select(
        "bucket",
        F.coalesce("freq_base", F.lit(0.0)).alias("freq_base"),
        F.coalesce("freq_cur", F.lit(0.0)).alias("freq_cur"),
    )
    p = F.col("freq_cur") + eps
    q = F.col("freq_base") + eps
    m = (p + q) / 2
    ratio = F.log(p / q)
    return joined.select(
        "bucket",
        "freq_base",
        "freq_cur",
        ((F.col("freq_cur") - F.col("freq_base")) * ratio).alias("psi_term"),
        (F.col("freq_cur") * ratio).alias("kl_term"),
        (0.5 * p * F.log(p / m) + 0.5 * q * F.log(q / m)).alias("js_term"),
    )


def bucket_counts(df: DataFrame, column: str) -> DataFrame:
    """Exact categorical count frame of ``column`` → (bucket string, cnt long).

    The COUNT-preserving sibling of :func:`histogram` (which normalizes to
    frequencies): :func:`chi2_terms` needs raw counts because the chi-square
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
) -> DataFrame:
    """Every drift series of ``df`` from ONE scan, one explode and one
    groupBy → (column, bucket, v, cnt), a row per occupied cell. A name in
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
    slim = df.select(*dict.fromkeys([*cats, *grids, *keys]))
    if TRANSITIONS in columns:
        slim = with_transition(slim)
        series.append(
            F.when(F.col("_transition").isNotNull(), cell(TRANSITIONS, F.col("_transition"), null_v))
        )
    typed = "array<struct<column:string,bucket:string,v:double>>"  # no series: no rows
    cells = F.array(*series) if series else F.array().cast(typed)
    return (
        slim.select(F.explode(cells).alias("_s"))
        .filter(F.col("_s").isNotNull())
        .groupBy("_s.column", "_s.bucket", "_s.v")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def drift_series(counts: DataFrame, column: str, numeric: bool = False) -> DataFrame:
    """One series' rows of a :func:`drift_counts` frame (extra columns kept):
    categorical rows have a bucket, numeric rows do not."""
    one = counts.filter((F.col("column") == column) & (F.col("bucket").isNull() == numeric))
    # category_bucket is a no-op here: it declares bucket non-NULL, as the
    # persisted artifact has it (a filter leaves nullability as is)
    return one if numeric else one.withColumn("bucket", category_bucket(F.col("bucket")))


def chi2_terms(current: DataFrame, baseline: DataFrame) -> DataFrame:
    """Per-bucket Pearson chi-square homogeneity terms between two exact
    count frames (bucket, cnt) — the classical frequentist companion to the
    PSI/KL/JS terms of :func:`drift_stats`: the total Σ chi2_term is the
    2×k homogeneity statistic, asymptotically χ²(k−1) under "same
    distribution", so it carries an actual significance calibration where
    PSI thresholds are folklore. Because the statistic scales with sample
    size, inputs are COUNTS (``bucket_counts``), not frequencies.

    Per-bucket algebraic form (no expected-count intermediates):
    term_k = (o_cur·n_base − o_base·n_cur)² / (n_cur·n_base·(o_cur+o_base)).
    The cross products are exact DECIMAL(19,0)×DECIMAL(19,0) integer
    arithmetic (the grouped_int_corr posture — order-independent, safe to
    ~10^12 totals), then ONE fixed double formula per row, so every term is
    bit-identical across engines and partitionings; the total is a sum the
    caller does over k bounded rows. Output NULL term when either side is
    empty (n=0 — no homogeneity question to ask), never NaN/Inf.

    Plan: full-outer join of two bounded count frames + totals as a window
    over the joined k-row frame (inside the "bounded rows" exception to the
    no-unpartitioned-window invariant). Output: (bucket, o_base, o_cur,
    n_base, n_cur, chi2_term); dof = k−1 with k = output row count.
    """
    cur = current.select("bucket", F.col("cnt").alias("o_cur"))
    base = baseline.select("bucket", F.col("cnt").alias("o_base"))
    joined = (
        cur.join(base, on="bucket", how="full_outer")
        .select(
            "bucket",
            F.coalesce("o_base", F.lit(0)).cast("long").alias("o_base"),
            F.coalesce("o_cur", F.lit(0)).cast("long").alias("o_cur"),
        )
        # bucket_counts never emits 0-count rows, but a caller-built frame
        # might: a both-zero row would make the term 0/0 — drop it (it
        # carries no information and must not count toward dof either)
        .filter((F.col("o_base") > 0) | (F.col("o_cur") > 0))
    )
    tot = Window.partitionBy()
    with_tot = joined.select(
        "bucket",
        "o_base",
        "o_cur",
        F.sum("o_base").over(tot).alias("n_base"),
        F.sum("o_cur").over(tot).alias("n_cur"),
    )
    return with_tot.select(
        "bucket", "o_base", "o_cur", "n_base", "n_cur", _chi2_expr().alias("chi2_term")
    )


def _chi2_expr(
    o_cur: str = "o_cur",
    o_base: str = "o_base",
    n_cur: str = "n_cur",
    n_base: str = "n_base",
    guard_totals: bool = True,
) -> "F.Column":
    """Per-bucket chi-square term from two (observed, total) count column
    pairs. Exact DECIMAL(19,0)×DECIMAL(19,0) cross products (fit
    DECIMAL(38,0)), each cast to double BEFORE the subtraction — a decimal
    subtraction would need precision 39; the double subtraction is the same
    fixed IEEE op in both engines (the grouped_int_corr oracle posture).
    The ONE definition of this shape — ksdrift's grid/windowed forms reuse
    it with their own column names (``guard_totals=False`` when the caller
    already gates on both totals in its aggregate)."""
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    diff = (dec(o_cur) * dec(n_base)).cast("double") - (
        dec(o_base) * dec(n_cur)
    ).cast("double")
    denom = (
        F.col(n_cur).cast("double")
        * F.col(n_base).cast("double")
        * (F.col(o_cur) + F.col(o_base)).cast("double")
    )
    term = diff * diff / denom
    if not guard_totals:
        return term
    return F.when((F.col(n_cur) > 0) & (F.col(n_base) > 0), term)


def drift_and_chi2_terms(
    current_counts: DataFrame, baseline_counts: DataFrame, eps: float = 1e-6
) -> DataFrame:
    """Per-bucket PSI/KL/JS terms AND chi-square terms from two exact count
    frames in ONE plan (one scan of the current side): frequencies derive as
    o/n — the same division :func:`histogram` persists — so the PSI/KL/JS
    totals are bit-identical to :func:`drift_stats` over the equivalent
    frequency frames (parity-tested), while the chi2 column adds the
    calibrated homogeneity statistic the frequency form cannot express.

    Output: drift_stats columns + (o_base, o_cur, n_base, n_cur, chi2_term).
    An empty side yields freq 0.0 (drift terms stay finite via eps) and NULL
    chi2 terms — same posture as :func:`chi2_terms`.
    """
    j = chi2_terms(current_counts, baseline_counts)
    return _terms_from_counts(j, eps=eps)


def _terms_from_counts(
    j: DataFrame, extra: tuple[str, ...] = (), eps: float = 1e-6
) -> DataFrame:
    """Project the full drift-term row from a joined count frame carrying
    (bucket, o_base, o_cur, n_base, n_cur [, chi2_term]) — the shared tail
    of :func:`drift_and_chi2_terms` and :func:`windowed_drift_report`.
    ``extra`` columns (e.g. window bounds) lead the output."""
    fb = F.when(
        F.col("n_base") > 0, F.col("o_base") / F.col("n_base")
    ).otherwise(F.lit(0.0))
    fc = F.when(
        F.col("n_cur") > 0, F.col("o_cur") / F.col("n_cur")
    ).otherwise(F.lit(0.0))
    if "chi2_term" not in j.columns:
        j = j.select("*", _chi2_expr().alias("chi2_term"))
    j = j.select("*", fb.alias("freq_base"), fc.alias("freq_cur"))
    p = F.col("freq_cur") + eps
    q = F.col("freq_base") + eps
    m = (p + q) / 2
    ratio = F.log(p / q)
    return j.select(
        *extra,
        "bucket",
        "freq_base",
        "freq_cur",
        ((F.col("freq_cur") - F.col("freq_base")) * ratio).alias("psi_term"),
        (F.col("freq_cur") * ratio).alias("kl_term"),
        (0.5 * p * F.log(p / m) + 0.5 * q * F.log(q / m)).alias("js_term"),
        "o_base",
        "o_cur",
        "n_base",
        "n_cur",
        "chi2_term",
    )


def windowed_drift_report(
    window_counts: DataFrame, baseline_counts: DataFrame, eps: float = 1e-6
) -> DataFrame:
    """Per-WINDOW drift terms vs one baseline count frame — the batch half of
    continuous drift monitoring: a stream maintains the windowed categorical
    counts (streaming/incremental.windowed_histogram_stream — watermark-
    bounded state, counts are mergeable), and this report joins the emitted
    (window_start, window_end, bucket, cnt) rows against a persisted
    baseline, yielding drift_and_chi2_terms rows PER WINDOW. Summing
    psi_term/chi2_term within a window gives that window's drift verdict —
    "which day drifted", not just "did the batch drift".

    Plan: both inputs are bounded (windows × |bucket domain|); the bucket
    grid is windows ⨯ (baseline ∪ observed buckets) via a broadcast cross of
    two bounded frames, totals are windows-partitioned sums over the grid
    (bounded-rows window exception). A bucket absent from a window counts 0
    there; a window with no rows never appears (streams emit only non-empty
    windows).
    """
    wins = window_counts.select("window_start", "window_end").distinct()
    buckets = (
        baseline_counts.select("bucket")
        .union(window_counts.select("bucket"))
        .distinct()
    )
    grid = (
        wins.crossJoin(broadcast(buckets))
        .join(
            baseline_counts.select("bucket", F.col("cnt").alias("o_base")),
            on="bucket",
            how="left",
        )
        .join(
            window_counts.select(
                "window_start", "window_end", "bucket", F.col("cnt").alias("o_cur")
            ),
            on=["window_start", "window_end", "bucket"],
            how="left",
        )
        .select(
            "window_start",
            "window_end",
            "bucket",
            F.coalesce("o_base", F.lit(0)).cast("long").alias("o_base"),
            F.coalesce("o_cur", F.lit(0)).cast("long").alias("o_cur"),
        )
        # a bucket observed only in OTHER windows is a phantom here: both
        # sides 0 would make the chi2 term 0/0; dropping the row restores
        # exactly chi2_terms' full-outer-join semantics per window
        .filter((F.col("o_base") > 0) | (F.col("o_cur") > 0))
    )
    per_win = Window.partitionBy("window_start", "window_end")
    with_tot = grid.select(
        "*",
        F.sum("o_base").over(per_win).alias("n_base"),
        F.sum("o_cur").over(per_win).alias("n_cur"),
    )
    return _terms_from_counts(with_tot, extra=("window_start", "window_end"), eps=eps)


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

    The median is one aggregation broadcast as a single row; each half's
    histogram and the PSI/KL/JS terms reuse :func:`histogram` /
    :func:`drift_stats`. ``approx=True`` (default) uses the
    percentile_approx sketch; ``approx=False`` is the exact opt-in matching
    DuckDB ``quantile_cont`` for the oracle.

    Output: drift_stats rows (bucket, freq_base, freq_cur, psi/kl/js terms);
    total drift = sum over buckets.
    """
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    med_expr = (
        F.percentile_approx(ts_us, F.lit(0.5)) if approx else F.percentile(ts_us, F.lit(0.5))
    )
    med = df.agg(med_expr.alias("_med"))
    with_med = df.withColumn("_ts_us", ts_us).crossJoin(broadcast(med))
    base = histogram(with_med.filter(F.col("_ts_us") < F.col("_med")), column)
    cur = histogram(with_med.filter(F.col("_ts_us") >= F.col("_med")), column)
    return drift_stats(cur, base)
