"""Conversation-protocol checks: role alternation, the transition whitelist,
and the (prev_role → role) transition profiles.

Engine-added, transcript-native constraints (no reference analog — SURVEY.md
§2.6 family): within a conversation in the engine's turn order
(schema.conv_order), two CONSECUTIVE turns with the same non-null role
indicate a stitching or ingestion fault — except ``tool`` turns, which
legitimately run in sequences (multiple tool results between assistant
turns) and are therefore exempt on both sides of the comparison.

The two constraints are conversation rules (checks/custom.Rule) over the
fused plan's annotated frame (plans/validate.py), so enabling them adds no
scan and no exchange; the profiles below are one lag window each over the
conv_id exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from schema_infer_plugin_spark.schema import conv_order, well_keyed

from .custom import Rule, unless
from .drift import drift_terms, median_halves, with_transition


def role_transition_matrix(df: DataFrame) -> DataFrame:
    """Counts and rates of adjacent-turn (prev_role → role) transitions —
    the DISTRIBUTIONAL companion to :func:`alternation_rules`:
    instead of emitting only the forbidden repeats, it profiles the whole
    transition structure (user→assistant share, tool-chain lengths showing up
    as tool→tool mass, conversation openers under prev_role NULL), which is
    what a drift check compares across ingest batches.

    Ordering is the engine's turn order (schema.conv_order), so lag() is
    deterministic even on full (turn_idx, ts) duplicate rows — both engines
    sort identically with NULLS FIRST pinned explicitly.

    Plan: one lag window over the conv_id exchange (zero exchanges over a
    conv_id-bucketed table) → one hash agg on (prev_role, role). The rate
    denominator is a window over the AGGREGATED matrix — bounded by
    |role domain|², a few dozen rows, so the unpartitioned window is safe
    here (the "never over unbounded rows" invariant targets row-scale data).

    Output: (prev_role, role, n bigint, rate double) — rate = n / Σn,
    rounded to 6 decimals. prev_role is NULL for each conversation's first
    turn in the stable order.
    """
    w = Window.partitionBy("conv_id").orderBy(*conv_order())
    # NULL-key rows form no adjacency (engine-wide posture, plans/validate.py)
    # — one corpus-wide NULL pseudo-conversation would chain unrelated rows
    # into fabricated edges AND recreate the unsplittable hot window partition
    df = well_keyed(df)
    matrix = (
        df.select(F.lag("role").over(w).alias("prev_role"), F.col("role"))
        .groupBy("prev_role", "role")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = Window.partitionBy(F.lit(1))
    return matrix.select(
        "prev_role",
        "role",
        "n",
        F.round(F.col("n") / F.sum("n").over(total), 6).cast("double").alias("rate"),
    )


def transition_buckets(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """One row per adjacent-turn transition: (bucket = 'prev->role', _ts_us).

    The count side of :func:`transition_self_drift`; which turns count and
    their bucket are checks/drift.with_transition, the rule the
    ``__transitions__`` drift series (checks/drift.drift_counts) counts by.
    Openers (no previous turn) and NULL-key rows are excluded — they carry
    no transition information; a NULL ts maps to −inf epoch, consistent
    with the NULLS FIRST turn order. One lag window over the conv_id exchange (zero on a bucketed
    table)."""
    neg_inf = -(1 << 62)
    return (
        with_transition(df, ts_col)
        .filter(F.col("_transition").isNotNull())
        .select(
            F.col("_transition").alias("bucket"),
            F.coalesce(
                F.unix_micros(F.col(ts_col).cast("timestamp")), F.lit(neg_inf)
            ).alias("_ts_us"),
        )
    )


def transition_self_drift(
    df: DataFrame,
    ts_col: str = "ts",
    approx: bool = True,
) -> DataFrame:
    """Zero-config drift of the TRANSITION distribution: does the
    (prev_role → role) structure differ between the data's earlier and later
    half? The sequence-level companion to checks/drift.temporal_self_drift —
    every per-column histogram can stay flat while the conversational
    protocol shifts (e.g. tool-chains lengthen, assistant double-turns
    appear after a producer redeploy); the transition matrix IS that
    protocol's distribution, and this check diffs it against itself in time.

    Each transition is an event stamped with the ts of its COMPLETING turn
    (the later one); conversation openers (no previous turn) are excluded —
    they carry no transition information. The split point is the exact /
    approx median of the transition timestamps (same opt-in convention as
    temporal_self_drift); a NULL completing ts sorts into the earlier half
    (epoch treated as −inf, consistent with the NULLS FIRST turn order).

    Plan: ONE lag window over the conv_id exchange (zero on a bucketed
    table) → median agg broadcast as one row → one hash agg over the
    half × ≤|roles|²-bounded transition buckets (checks/drift.median_halves)
    → checks/drift.drift_terms. Output: drift_terms rows, bucket =
    'prev->role' — PSI/KL/JS terms and the Pearson chi-square terms
    (:func:`transition_chi2`) side by side.
    """
    trans = transition_buckets(df, ts_col).withColumnRenamed("bucket", "transition")
    return drift_terms(*median_halves(trans, "_ts_us", ["transition"], approx))


def transition_rules(allowed: "list[str] | tuple[str, ...]") -> list[Rule]:
    """Config-declared transition whitelist as a conversation rule
    ``role_transition_domain``: one violation per adjacent-turn
    (prev_role → role) pair outside ``allowed`` — the DOMAIN check over the
    protocol's edge set, generalizing :func:`alternation_rules` (which
    forbids exactly the repeat edges) to an arbitrary declared machine
    ("tool may only follow assistant", "system never mid-conversation", …).
    The matrix (:func:`role_transition_matrix`) profiles the distribution;
    this emits the typed violation slice against a declared legal set —
    the same profile/constraint pairing as domains vs infer_domain.

    ``allowed``: 'prev->next' strings (both sides non-empty). Conversation
    openers carry no transition (prev NULL ⇒ skipped); NULL roles are the
    null check's job, not this one's — both sides must be non-null to form a
    judgeable edge. The whitelist is |roles|²-bounded, inlined as an isin
    literal list; observed is the 'prev->role' pair.
    """
    allowed = sorted(set(allowed))
    if not allowed:
        raise ValueError("transition_rules: allowed set must be non-empty")
    for a in allowed:
        head, sep, tail = a.partition("->")
        if not sep or not head or not tail:
            raise ValueError(f"transition_rules: entries must be 'prev->next': {a!r}")
    # concat is NULL unless both roles are non-null, and unless() passes NULL
    pair = F.concat(F.col("prev_role"), F.lit("->"), F.col("role"))
    expected = "in {" + ",".join(allowed) + "}"
    bad = ~pair.isin(*allowed)
    return [Rule("role_transition_domain", unless(bad), "role", pair, expected, conv=True)]


def alternation_rules() -> list[Rule]:
    """Conversation rule ``role_alternation``: one violation per turn whose
    role repeats the previous turn's role (both non-null, neither 'tool');
    observed the role, expected '!= prev_role'."""
    role, prev = F.col("role"), F.col("prev_role")
    repeat = (role == prev) & (role != "tool")
    expected = F.concat(F.lit("!= "), prev)
    return [Rule("role_alternation", unless(repeat), "role", role, expected, conv=True)]


def transition_chi2(
    df: DataFrame,
    ts_col: str = "ts",
    approx: bool = True,
) -> DataFrame:
    """Chi-square flavor of :func:`transition_self_drift` — the same
    drift_terms rows, read for their Pearson homogeneity columns (o_base,
    o_cur, n_base, n_cur, chi2_term) of the (prev_role → role) transition
    COUNTS between the data's earlier and later half. Σ chi2_term is
    asymptotically χ²(k−1) under "no protocol shift" — the calibrated
    significance test the PSI/KL/JS terms (folklore thresholds) can't
    provide, and it needs counts, not frequencies."""
    return transition_self_drift(df, ts_col, approx)
