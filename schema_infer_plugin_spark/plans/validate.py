"""Fused single-pass Pass B: every rule in ONE scan + ONE shuffle.

Every check is a ``checks/custom.Rule`` (a pass predicate plus how to render
a failure), and :func:`validate_transcripts` compiles any rule list — the
built-ins of :func:`default_rules`, boundary roles, the transition
whitelist, role alternation and user expression rules — into one plan:

* one scan; ROW rules (domains, not-null, tool-without-role, user rules,
  which may read ``text``) evaluate map-side, before the exchange, into a
  violation-array column that is NULL on clean rows, and the projection
  keeps only ``(conv_id, turn_idx, role, ts)`` beside it — ``text`` bytes
  (the bulk of a transcripts table) never enter the shuffle;
* one hash exchange on ``conv_id`` + one sort in the engine's turn order
  (schema.conv_order) serving ONE annotated frame: lag of
  turn_idx/ts/role, lead for the last-turn flag (no descending twin sort),
  and the per-key row count over ``partitionBy(conv_id, turn_idx)`` —
  Spark's ``ClusteredDistribution`` is satisfied by the coarser
  ``HashPartitioning`` since {conv_id} ⊆ {conv_id, turn_idx}, so no second
  exchange appears. Over a conv_id-bucketed table there is no exchange at
  all (tests/test_bucketed.py);
* CONVERSATION rules (uniqueness, contiguity, ts_monotonic, boundary roles,
  the transition whitelist, alternation) evaluate on that frame; both
  violation arrays are concatenated and exploded — output rows ∝ violations.

Enabling options therefore changes the projection, never the plan shape:
1 scan and 1 exchange (0 bucketed) per run. The DuckDB oracle's per-check
SQL (__spark_entry__.py) is the independent witness of every rule
(tests/test_plans.py property test).

Uniqueness/contiguity over duplicates: duplicates are adjacent after the
sort, so a row is "first of its key group" iff ``lag(turn_idx) IS DISTINCT
FROM turn_idx``; lag at such rows equals the previous *distinct* index, and
only those rows may emit uniqueness/contiguity violations — the result of a
distinct + lag, with no distinct needed.

NULL-key posture: rows missing ``conv_id`` or ``turn_idx`` raise
``not_null_conv_id`` / ``not_null_turn_idx`` violations and are excluded from
every conversation rule (no well-formed conversation to assert against); in
the window exchange ``schema.null_key_salt`` spreads them instead of
collapsing them onto the single NULL hash key.

Skew: the only partition-heavy key is ``conv_id``; conversations are bounded
(≤ thousands of turns) while the table is not, so hash partitioning stays
balanced at any scale — salting is unnecessary *for this plan* (the composite
uniqueness key spreads hot conversations by construction; see
``checks/salting.py`` for per-conversation aggregations, which do need it).

Adversarial skew (one conversation holding a visible FRACTION of the table —
tests/test_bucketed.py stresses 1/3 of all turns in one conv_id): the windows
key on conv_id, so that conversation is *irreducible* single-key skew — AQE's
skew-join splitting does not apply to windows, and salting would break window
exactness. What the plan guarantees instead: (a) the hot key costs exactly ONE
straggler task — the hash exchange keeps every other partition's residual load
balanced; (b) memory is safe at any conversation length because WindowExec
sorts spillably and every window function (lag / lead / count over the frame)
streams. If per-task wall-time of the one straggler ever dominates a run, the
fallback is range-partitioning by ``(conv_id, turn_idx)`` and running
per-chunk contiguity with boundary stitching (compare each chunk's first index
against the previous chunk's max — an equi-join on chunk edges); that variant
trades one exchange for bounded task time and is deliberately NOT the default:
it costs a second shuffle on every healthy run to protect against a shape
(multi-billion-turn single conversations) the transcripts contract excludes.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window, functions as F

from schema_infer_plugin_spark.checks.custom import (
    Rule,
    as_rules,
    explode_violations,
    expr_suite_violations,
    failed,
    unless,
    violation_array,
)
from schema_infer_plugin_spark.schema import (
    ROLE_DOMAIN,
    TOOL_DOMAIN,
    conv_order,
    null_key_salt,
    well_keyed_predicate,
)
from schema_infer_plugin_spark.session import local_frame

#: check_name values of :func:`default_rules` (verdict grid rows).
CHECK_NAMES = [
    "uniqueness",
    "contiguity",
    "contiguity_start",
    "ts_monotonic",
    "domain_role",
    "domain_tool",
    "tool_without_role",
    "not_null_text",
    "not_null_conv_id",
    "not_null_turn_idx",
]

def default_rules(
    role_domain: list[str] | None = None,
    tool_domain: list[str] | None = None,
) -> list[Rule]:
    """The built-in Pass-B rules, one per :data:`CHECK_NAMES` entry. Each
    fires only where its fail condition is TRUE (:func:`unless`). Domains
    default to the schema constants."""
    roles = role_domain or ROLE_DOMAIN
    tools = tool_domain or TOOL_DOMAIN
    idx, prev = F.col("turn_idx"), F.col("prev_idx")
    role, tool, ts = F.col("role"), F.col("tool"), F.col("ts")
    first_of_key = ~prev.eqNullSafe(idx)

    def not_null(c: str) -> Rule:
        return Rule(f"not_null_{c}", F.col(c).isNotNull(), c, F.lit("NULL"), "NOT NULL")

    return [
        Rule(
            "uniqueness",
            unless(first_of_key & (F.col("key_count") > 1)),
            "conv_id,turn_idx",
            F.col("key_count"),
            "1",
            conv=True,
        ),
        Rule(
            "contiguity",
            unless(first_of_key & (idx != prev + 1)),
            "turn_idx",
            idx,
            prev + 1,
            conv=True,
        ),
        Rule(
            "contiguity_start",
            unless(F.col("is_first") & (idx != 0)),
            "turn_idx",
            idx,
            "0",
            conv=True,
        ),
        Rule(
            "ts_monotonic",
            unless(ts < F.col("prev_ts")),
            "ts",
            ts,
            F.concat(F.lit(">= "), F.col("prev_ts").cast("string")),
            conv=True,
        ),
        Rule("domain_role", unless(~role.isin(roles)), "role", role, ",".join(roles)),
        Rule("domain_tool", unless(~tool.isin(tools)), "tool", tool, ",".join(tools)),
        Rule(
            "tool_without_role",
            unless(tool.isNotNull() & (F.coalesce(role, F.lit("")) != "tool")),
            "tool",
            tool,
            "NULL unless role=tool",
        ),
        not_null("text"),
        not_null("conv_id"),
        not_null("turn_idx"),
    ]


def split_rules(rules: list[Rule] | None = None) -> tuple[list[Rule], list[Rule]]:
    """(row rules, conversation rules) of ``rules`` (default
    :func:`default_rules`): the one compilation step the batch plan and the
    stream (streaming/incremental.validation_stream) share. Rule names must
    be unique."""
    rules = as_rules(default_rules() if rules is None else rules)
    return [r for r in rules if not r.conv], [r for r in rules if r.conv]


def validate_transcripts(df: DataFrame, rules: list[Rule] | None = None) -> DataFrame:
    """All violations of ``rules`` (default :func:`default_rules`) over
    ``df`` in one fused plan. Output columns: (check_name, conv_id,
    turn_idx, column, observed, expected). Rule names must be unique."""
    row_rules, conv_rules = split_rules(rules)
    if not conv_rules:
        return expr_suite_violations(df, row_rules)

    # NULL-key posture: a row missing conv_id or turn_idx belongs to no
    # well-formed conversation, so (a) it raises a not_null_conv_id /
    # not_null_turn_idx violation, (b) it is EXCLUDED from every
    # conversation rule (asserting contiguity among unrelated keyless rows
    # would fabricate violations), and (c) schema.null_key_salt spreads it
    # over the window exchange instead of one hot NULL-hash partition, while
    # a bucketed scan's HashPartitioning(conv_id) still satisfies both
    # clusterings ({conv_id} ⊆ {conv_id, _ksalt[, …]}): zero exchanges.
    key_ok = well_keyed_predicate()
    # NULL on clean rows, so the shuffle carries one null bit for them
    any_failed = reduce(Column.__or__, map(failed, row_rules), F.lit(False))
    row_v = [F.when(any_failed, violation_array(row_rules)).alias("_row_v")] if row_rules else []
    slim = df.select(
        "conv_id",
        "turn_idx",
        "role",
        "ts",
        *row_v,
        null_key_salt().alias("_ksalt"),
    )

    w_conv = Window.partitionBy("conv_id", "_ksalt").orderBy(*conv_order())
    w_key = Window.partitionBy("conv_id", "_ksalt", "turn_idx")
    annotated = slim.select(
        "*",
        F.lag("turn_idx").over(w_conv).alias("prev_idx"),
        F.lag("ts").over(w_conv).alias("prev_ts"),
        F.lag("role").over(w_conv).alias("prev_role"),
        F.lead("turn_idx").over(w_conv).isNull().alias("is_last"),
        F.count(F.lit(1)).over(w_key).alias("key_count"),
    ).withColumn("is_first", F.col("prev_idx").isNull())

    found = F.when(key_ok, violation_array(conv_rules))
    if row_rules:
        checked = annotated.select("conv_id", "turn_idx", "_row_v", found.alias("_conv_v"))
        row, conv = F.col("_row_v"), F.col("_conv_v")
        return explode_violations(checked, F.coalesce(F.concat(row, conv), conv, row))
    return explode_violations(annotated, found)


def sampled_validation_estimate(
    df: DataFrame,
    rate_num: int,
    width: int = 2,
    rules: list[Rule] | None = None,
) -> DataFrame:
    """Cheap pre-pass for 10^12-turn tables: run the FUSED validation on a
    deterministic md5 sample of CONVERSATIONS and estimate each check's
    per-turn violation rate with a Wilson 95% interval — the answer to "is
    this ingest batch worth a full Pass B?" at a fraction of its cost, and
    reproducible (content-hash sampling: same sample at any parallelism, in
    any engine).

    Sampling is conv_id-granular — every window check (uniqueness,
    contiguity, ts_monotonic) sees whole conversations, so a sampled
    violation is a REAL violation, never a seam artifact of dropping
    mid-conversation turns. Corollary: rows with a NULL conv_id hash to no
    bucket and are never sampled, so ``not_null_conv_id`` always estimates
    0 here — keyless-row incidence is a question for the full pass (or a
    row-granular sample), not the conversation-granular estimator. ``rate_num`` of 16**width buckets (width=2 →
    1/256 granularity), sources/sampling.deterministic_sample.

    The Wilson interval is ONE fixed double formula (z = 1.959964) on an
    exact BIGINT (successes, trials) pair — bit-identical across engines,
    never degenerate at rate 0 or 1 (unlike the Wald interval). TWO units
    are estimated side by side:

    * per-TURN (rate/ci_lo/ci_hi over n_turns): the operational number, but
      turns within a conversation are correlated, so under conv-level
      cluster sampling this interval is the iid-binomial approximation — an
      honest lower bound on the uncertainty, documented rather than hidden;
    * per-CONVERSATION (conv_rate/conv_ci_lo/conv_ci_hi: conversations with
      ≥1 violation over n_convs): the sampling unit IS the conversation, so
      here the iid assumption holds exactly — the design-consistent
      interval to gate on when the caveat matters.

    Plan: map-side sample predicate (pushes to the scan) → the fused
    single-exchange validation → one hash agg on check_name (≤ |checks|
    rows, count + distinct-conv count together) joined to the driver-local
    check grid (the names of ``rules``, default :func:`default_rules`) →
    one-row sampled-totals broadcast. Output: (check_name, n_turns,
    n_violations, rate, ci_lo, ci_hi, n_convs, conv_violations, conv_rate,
    conv_ci_lo, conv_ci_hi); NULL estimates when the sample is empty.
    """
    from schema_infer_plugin_spark.sources.sampling import deterministic_sample

    rules = as_rules(default_rules() if rules is None else rules)
    sample = deterministic_sample(df, ["conv_id"], rate_num, width)
    counts = (
        validate_transcripts(sample, rules)
        .groupBy("check_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_violations"),
            F.count_distinct(F.col("conv_id")).cast("long").alias("conv_violations"),
        )
    )
    grid = local_frame(df.sparkSession, [(r.name,) for r in rules], "check_name string")
    totals = sample.agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.count_distinct(F.col("conv_id")).cast("long").alias("n_convs"),
    )
    est = (
        grid.join(counts, on="check_name", how="left")
        .select(
            "check_name",
            F.coalesce("n_violations", F.lit(0)).cast("long").alias("n_violations"),
            F.coalesce("conv_violations", F.lit(0)).cast("long").alias(
                "conv_violations"
            ),
        )
        .crossJoin(F.broadcast(totals))
    )

    def wilson(k_col: str, n_col: str) -> tuple:
        """(rate, ci_lo, ci_hi) Wilson-95% expressions from exact counts —
        the identical fixed double formula at both units and in the oracle."""
        z = F.lit(1.959964)
        n = F.col(n_col).cast("double")
        k = F.col(k_col).cast("double")
        phat = k / n
        z2 = z * z
        denomw = F.lit(1.0) + z2 / n
        center = (phat + z2 / (F.lit(2.0) * n)) / denomw
        half = (
            z
            * F.sqrt(phat * (F.lit(1.0) - phat) / n + z2 / (F.lit(4.0) * (n * n)))
            / denomw
        )
        guard = lambda c: F.when(F.col(n_col) > 0, c)  # noqa: E731
        # the least/greatest-vs-phat clamp enforces ci_lo <= rate <= ci_hi,
        # true analytically for Wilson but violable by ~1e-19 of float dust
        # at k=0 / k=n (center−half is exactly 0 only in real arithmetic)
        return (
            guard(phat),
            guard(F.greatest(F.least(center - half, phat), F.lit(0.0))),
            guard(F.least(F.greatest(center + half, phat), F.lit(1.0))),
        )

    t_rate, t_lo, t_hi = wilson("n_violations", "n_turns")
    c_rate, c_lo, c_hi = wilson("conv_violations", "n_convs")
    return est.select(
        "check_name",
        "n_turns",
        "n_violations",
        t_rate.alias("rate"),
        t_lo.alias("ci_lo"),
        t_hi.alias("ci_hi"),
        "n_convs",
        "conv_violations",
        c_rate.alias("conv_rate"),
        c_lo.alias("conv_ci_lo"),
        c_hi.alias("conv_ci_hi"),
    )
