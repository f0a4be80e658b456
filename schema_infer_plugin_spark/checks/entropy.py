"""Information-theoretic column profiles: categorical entropy and pairwise
mutual information.

Entropy extends the profile's distinct-count with *how concentrated* the
distribution is — a `role` column whose entropy collapses between runs has
degenerated (e.g. a producer started emitting only 'user') even if the
distinct count is unchanged. Mutual information quantifies coupling between
two categorical columns; for (role, tool) it is the soft version of the
engine's hard tool_without_role rule (plans/validate.py) — a drop in
MI(role, tool) flags that the association itself is eroding.

Numeric determinism (the cross-engine oracle contract): every statistic is
derived from exact BIGINT counts via the SAME algebraic form on both sides —
entropy as ``ln(n) − (Σ c·ln c)/n`` (one division, no per-term p=c/n
rounding), MI per-term as ``ln((c_ab·n)/(c_a·c_b))`` with all products done
in DOUBLE in fixed association order. Sums of per-value terms merge in
engine-specific order, so results are rounded to 6 digits; terms that can
land exactly on 0 get ``+ 0.0`` AFTER the round (IEEE −0.0 — CLAUDE.md
invariant).

Plan shapes:

* :func:`categorical_entropy` — the table is scanned ONCE for all columns
  (per-row melt via array-of-structs explode — a width-bounded fan-out, not
  a join), one hash aggregation to (col, value) counts (map-side combined),
  then a per-column rollup over the bounded distinct-value frame.
* :func:`mutual_information` — one hash aggregation to the joint (a, b)
  count frame; marginals are re-aggregated FROM the joint (bounded) frame,
  never from the table, and broadcast back. Exactly one full-table shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import broadcast


def categorical_entropy(
    df: DataFrame,
    cols: list[str],
    round_digits: int = 6,
) -> DataFrame:
    """Shannon entropy (nats) of each categorical column, one row per column.

    NULLs are excluded (entropy is a statement about values; pair with the
    profile's null_rate). Output: (col_name, n_rows, n_distinct, entropy,
    norm_entropy) where ``norm_entropy = entropy / ln(n_distinct)`` ∈ [0, 1]
    (0 for a single-valued column by convention — a constant has no surprise,
    and the 0/0 would otherwise poison the ratio).
    """
    melted = (
        df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("col_name"),
                            F.col(c).cast("string").alias("value"),
                        )
                        for c in cols
                    ]
                )
            ).alias("kv")
        )
        .select("kv.col_name", "kv.value")
        .filter(F.col("value").isNotNull())
    )
    counts = melted.groupBy("col_name", "value").agg(
        F.count(F.lit(1)).alias("c")
    )
    n = F.sum("c").cast("double")
    clnc = F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double")))
    entropy = F.log(n) - clnc / n
    n_distinct = F.count(F.lit(1))
    return counts.groupBy("col_name").agg(
        F.sum("c").cast("long").alias("n_rows"),
        n_distinct.cast("long").alias("n_distinct"),
        (F.round(entropy, round_digits) + F.lit(0.0)).cast("double").alias("entropy"),
        F.when(n_distinct > 1, F.round(entropy / F.log(n_distinct.cast("double")), round_digits) + F.lit(0.0))
        .otherwise(F.lit(0.0))
        .cast("double")
        .alias("norm_entropy"),
    )


def mutual_information(
    df: DataFrame,
    col_a: str,
    col_b: str,
    round_digits: int = 6,
) -> DataFrame:
    """Mutual information (nats) between two categorical columns.

    Rows where EITHER side is NULL are excluded (MI is defined over the
    joint distribution of observed pairs; NULL-coupling is a different
    check — see transcripts_tool_without_role). Output, one row:
    (n_rows, n_pairs, mi, nmi) with ``nmi = mi / min(H(a), H(b))`` (0 when
    either marginal is constant).
    """
    pairs = (
        df.select(
            F.col(col_a).cast("string").alias("a"),
            F.col(col_b).cast("string").alias("b"),
        )
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    ma = pairs.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    mb = pairs.groupBy("b").agg(F.sum("c_ab").alias("c_b"))
    j = pairs.join(broadcast(ma), "a").join(broadcast(mb), "b")

    from pyspark.sql import Window

    # the joint frame is bounded (≤ |dom(a)|·|dom(b)| rows), so an
    # unpartitioned window over it is safe — same argument as ksdrift's CDF
    n = F.sum("c_ab").over(Window.partitionBy()).cast("double")
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    # per-term ln argument in DOUBLE with fixed association: (c_ab·n)/(c_a·c_b)
    terms = j.select(
        "c_ab",
        (dbl("c_ab") * F.log((dbl("c_ab") * n) / (dbl("c_a") * dbl("c_b")))).alias(
            "t_mi"
        ),
        # marginal entropies from the SAME frame: Σ_b c_ab = c_a, so
        # Σ_joint c_ab·ln(c_a) = Σ_a c_a·ln(c_a) — no second table pass
        (dbl("c_ab") * F.log(dbl("c_a"))).alias("t_ha"),
        (dbl("c_ab") * F.log(dbl("c_b"))).alias("t_hb"),
    )
    nn = F.sum("c_ab").cast("double")
    mi = F.sum("t_mi") / nn
    h_a = F.log(nn) - F.sum("t_ha") / nn
    h_b = F.log(nn) - F.sum("t_hb") / nn
    h_min = F.least(h_a, h_b)
    return terms.agg(
        F.sum("c_ab").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        (F.round(mi, round_digits) + F.lit(0.0)).cast("double").alias("mi"),
        F.when(
            F.round(h_min, round_digits) > 0,
            F.round(mi / h_min, round_digits) + F.lit(0.0),
        )
        .otherwise(F.lit(0.0))
        .cast("double")
        .alias("nmi"),
    )
