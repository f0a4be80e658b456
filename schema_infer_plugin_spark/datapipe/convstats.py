"""Per-conversation training-sample features.

For LLM training the sampling/filter unit is the CONVERSATION, not the turn —
a fine-tuning pipeline scores whole dialogues and keeps/weights them. One
hash aggregation over conv_id produces the standard feature set; everything
is map-side combinable column math (min/max/count/sum/max_by), so the plan is
scan → partial agg → one exchange on conv_id → final agg at any scale.
Conversations are bounded, so no salting is needed here (contrast
checks/salting.py, which exists for holistic aggs that can't pre-combine).

``trainable`` encodes the usual keep-filter: the conversation starts at turn
0, is contiguous, contains at least one user and one assistant turn, and ends
with an assistant turn (a complete exchange a loss mask can use).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from schema_infer_plugin_spark.schema import conv_order, well_keyed


def conversation_features(df: DataFrame) -> DataFrame:
    """One feature row per conversation.

    Output: (conv_id, n_turns, n_user, n_assistant, n_tool, starts_at_zero,
    contiguous, ends_with_assistant, total_chars, avg_chars, trainable).
    """
    role_is = lambda r: F.sum((F.col("role") == r).cast("long"))  # noqa: E731
    # conversation-unit operator: only well-keyed rows form a conversation
    # (NULL conv_id/turn_idx rows are the validation pass's job — the
    # engine-wide NULL-key posture, plans/validate.py)
    df = well_keyed(df)
    agg = df.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        role_is("user").alias("n_user"),
        role_is("assistant").alias("n_assistant"),
        role_is("tool").alias("n_tool"),
        F.min("turn_idx").alias("_min_idx"),
        F.max("turn_idx").alias("_max_idx"),
        F.count_distinct("turn_idx").alias("_n_idx"),
        # last turn's role: max_by on turn_idx; ties (duplicate max idx) break
        # deterministically on the NULLS-FIRST-sorted role so the oracle's
        # row_number equivalent can reproduce the same pick
        F.max_by("role", F.struct(F.col("turn_idx"), F.col("role"))).alias("_last_role"),
        F.sum(F.coalesce(F.length("text"), F.lit(0)).cast("long")).alias("total_chars"),
    )
    starts = F.col("_min_idx") == 0
    contiguous = (F.col("_max_idx") - F.col("_min_idx") + 1) == F.col("_n_idx")
    ends_assistant = F.coalesce(F.col("_last_role") == "assistant", F.lit(False))
    return agg.select(
        "conv_id",
        "n_turns",
        "n_user",
        "n_assistant",
        "n_tool",
        starts.alias("starts_at_zero"),
        contiguous.alias("contiguous"),
        ends_assistant.alias("ends_with_assistant"),
        "total_chars",
        F.round(F.col("total_chars") / F.col("n_turns"), 6).cast("double").alias("avg_chars"),
        (
            starts
            & contiguous
            & (F.col("n_user") > 0)
            & (F.col("n_assistant") > 0)
            & ends_assistant
        ).alias("trainable"),
    )


def shared_prefixes(df: DataFrame, k: int = 1, min_count: int = 2) -> DataFrame:
    """Shared first-``k``-turn template detection — which conversations open
    identically (same roles, same texts, in the same order)?

    SFT corpora are full of template duplication that whole-conversation
    dedup (:func:`conversation_texts`) cannot see: thousands of dialogues
    share one system prompt / few-shot preamble and diverge afterwards. The
    shared-prefix rate is the signal a mixing pipeline uses to cap template
    over-representation, and a leak channel for split assignment (two splits
    sharing a verbatim preamble).

    Semantics: a conversation's prefix is its first ``k`` turns under the
    engine's stable order — (turn_idx, ts NULLS FIRST, role, text), the
    validation windows' order plus ``text`` as the final tie-breaker so full
    duplicate coordinates render identically in any engine. Only
    conversations with ≥ k turns participate (a 1-turn conversation has no
    2-turn prefix — comparing it against full prefixes would fabricate
    "templates" out of truncation). Each prefix renders as
    ``role:text`` lines joined by newline (NULLs as '<null>') and keys on its
    md5, reproducible in the DuckDB oracle.

    Plan shape: one row_number window on conv_id (zero exchange on a
    conv_id-bucketed table), a per-conversation aggregate whose collect_list
    is k-bounded (never a whole conversation), a hash aggregate on
    prefix_key, and ONE single-row count frame broadcast-crossed for the
    share denominator — the same bounded broadcast-cross pattern as the
    profile/stats frames (tests/test_query_plans.py allowlist).

    Output: (prefix_key, n_convs, sample_conv, share) for prefixes shared by
    ≥ ``min_count`` conversations; share = n_convs / eligible conversations.
    """
    if k < 1:
        raise ValueError(f"shared_prefixes: k must be >= 1: {k}")
    # conversation-unit operator: well-keyed rows only (NULL-key posture,
    # plans/validate.py) — a keyless row is no conversation's opening turn
    df = well_keyed(df)
    if min_count < 1:
        raise ValueError(f"shared_prefixes: min_count must be >= 1: {min_count}")
    # the turn order plus a text tie-break: full-duplicate (turn_idx, ts,
    # role) rows still render one deterministic prefix
    w = Window.partitionBy("conv_id").orderBy(*conv_order(), F.col("text").asc_nulls_first())
    part = F.concat_ws(
        ":",
        F.coalesce(F.col("role"), F.lit("<null>")),
        F.coalesce(F.col("text"), F.lit("<null>")),
    )
    pref = (
        df.select("conv_id", part.alias("_part"), F.row_number().over(w).alias("_rn"))
        .filter(F.col("_rn") <= k)
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("_cnt"),
            # k-bounded by the _rn filter above — never a whole conversation
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(
                            F.collect_list(F.struct(F.col("_rn"), F.col("_part").alias("p")))
                        ),
                        lambda s: s["p"],
                    ),
                    "\n",
                )
            ).alias("prefix_key"),
        )
        .filter(F.col("_cnt") == k)
    )
    grouped = pref.groupBy("prefix_key").agg(
        F.count(F.lit(1)).alias("n_convs"),
        F.min("conv_id").alias("sample_conv"),
    )
    total = pref.agg(F.count(F.lit(1)).alias("_total"))  # single-row frame
    return (
        grouped.filter(F.col("n_convs") >= min_count)
        .crossJoin(F.broadcast(total))
        .select(
            "prefix_key",
            "n_convs",
            "sample_conv",
            F.round(F.col("n_convs") / F.col("_total"), 6)
            .cast("double")
            .alias("share"),
        )
    )


def conversation_texts(df: DataFrame) -> DataFrame:
    """One row per conversation with its turns' text concatenated in
    (turn_idx, text) order — the unit for CONVERSATION-level dedup: two
    conversations whose rendered texts are near-identical are duplicates even
    when ids/timestamps differ.

    collect_list over a groupBy is bounded here by the engine's data model
    (conversations are bounded — the same invariant the validation windows
    rely on); sort_array makes the render order deterministic at any
    parallelism, with text as the tie-breaker for duplicate turn indexes.
    NULL text renders as '<null>' so gap patterns still count as content.

    Output: (conv_id, text).
    """
    turn = F.struct(
        F.col("turn_idx"),
        F.coalesce(F.col("text"), F.lit("<null>")).alias("t"),
    )
    # conversation-unit operator: well-keyed rows only (NULL-key posture,
    # plans/validate.py) — keyless rows have no render position
    df = well_keyed(df)
    return df.groupBy("conv_id").agg(
        F.array_join(
            F.transform(F.sort_array(F.collect_list(turn)), lambda s: s["t"]),
            " ",
        ).alias("text")
    )
