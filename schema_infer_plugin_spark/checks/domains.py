"""Domain inference: suggest the value domains that role/tool must come from.

Generalizes the reference's include/exclude topic filtering
(/root/reference/schema_infer/core/discovery.py:29-61) into value-domain
validation. The membership checks themselves are the fused plan's
``domain_role`` / ``domain_tool`` row rules (plans/validate.default_rules) —
an isin() over a literal list, evaluated map-side with zero shuffle; this
module infers the lists they check against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def infer_domain(
    df: DataFrame,
    column: str,
    coverage: float = 0.99,
    max_values: int = 20,
) -> DataFrame:
    """INFER a validation domain from the data — the reference's
    inference-first philosophy applied to constraints: the suggested domain
    is the most-frequent values whose cumulative share of non-null rows
    reaches ``coverage`` (a value is in-domain iff the mass BEFORE it is
    still below the bar), capped at ``max_values``. The accepted values
    (:func:`inferred_domain_values`) become the ``role_domain`` /
    ``tool_domain`` of the validation rules (plans/validate.default_rules,
    the runner's ``--infer-domains``).

    Plan: one hash agg on the column (partial-agg bounded), then
    ``orderBy(count desc).limit(max_values)`` — a distributed TakeOrdered,
    NOT a global window, so a high-cardinality column never funnels its
    distinct values through one task. The cumulative window runs over the
    ≤ max_values survivors only (driver-scale). Ties break by value for
    determinism. Shares are exact IEEE doubles (identical in the oracle);
    displayed rounded.

    Output: (value, cnt, share, cum_share, in_domain), ordered cnt desc.
    """
    nn = df.filter(F.col(column).isNotNull()).select(
        F.col(column).cast("string").alias("value")
    )
    total = nn.agg(F.count(F.lit(1)).alias("_total"))
    counts = nn.groupBy("value").agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(F.desc("cnt"), F.asc("value")).limit(max_values)
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    w = (
        Window.orderBy(F.desc("cnt"), F.asc("value"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    share = F.col("cnt") / F.col("_total")
    cum = F.sum("cnt").over(w) / F.col("_total")
    return (
        top.crossJoin(broadcast(total))
        .select(
            "value",
            "cnt",
            F.round(share, 6).cast("double").alias("share"),
            F.round(cum, 6).cast("double").alias("cum_share"),
            ((cum - share) < coverage).alias("in_domain"),
        )
    )


def inferred_domain_values(
    df: DataFrame,
    column: str,
    coverage: float = 0.999,
    max_values: int = 20,
) -> list[str]:
    """Accepted domain (sorted list) from :func:`infer_domain` — the bounded
    driver collect is ≤ ``max_values`` rows BY CONSTRUCTION (the plan limits
    before collecting), so this is index-construction-sized like
    datapipe/ann.ivf_centroids, not a table collect."""
    rows = (
        infer_domain(df, column, coverage, max_values)
        .filter(F.col("in_domain"))
        .collect()
    )
    return sorted(r["value"] for r in rows)
