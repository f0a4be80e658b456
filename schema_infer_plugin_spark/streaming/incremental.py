"""Incremental (Structured Streaming) validation of arriving transcripts.

The reference has NO streaming semantics — it bounded-samples a Kafka topic and
exits (SURVEY.md §2.10; /root/reference/schema_infer/plugin/optimistic.py:512-603)
— so batch is the engine's primary mode. But the transcripts table the engine
validates is stream-fed in production (agent transcripts land continuously), so
the same ``checks/custom.Rule`` list that drives the fused batch plan
(plans/validate.validate_transcripts) drives the stream:

1. ``validation_stream``: the batch plan's rule list over a stream. Row rules
   are the stateless projection (``row_level_violations_stream`` for the
   built-ins); conversation rules judge turns that ONE keyed-state
   ``applyInPandasWithState`` annotates (no check logic in pandas), its
   state evicted in event time. Look-ahead rules raise.
   (``transformWithStateInPandas`` with RocksDB state would need the
   protobuf package, which the engine does not depend on.)

2. ``validation_sink``: full fused Pass B per micro-batch via ``foreachBatch``
   reusing the EXACT batch plan — exact *within* each micro-batch, for
   ingestion that appends conversations whole.

Late/out-of-order rows are never dropped (a late row is a violation to
report, not noise to watermark away); the keyed state's watermark only
schedules eviction, and ``validation_stream`` states when that eviction
can change its output.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.streaming.state import GroupStateTimeout

from schema_infer_plugin_spark.checks.custom import (
    explode_violations,
    expr_suite_violations,
    violation_array,
)
from schema_infer_plugin_spark.checks.drift import windowed_counts
from schema_infer_plugin_spark.plans.validate import (
    default_rules,
    split_rules,
    validate_transcripts,
)
from schema_infer_plugin_spark.schema import CONV_ORDER, well_keyed

#: Event-time idle TTL of a conversation's keyed state: once the watermark
#: passes max(the conversation's latest ``ts``, the watermark when its last
#: turn arrived) by this much, its state is evicted, and a later turn opens
#: the conversation afresh. UNVERIFIED against production traffic: no idle
#: gap or delivery skew of real transcripts has been measured. The only
#: transcript data here, sources/synth, spans at most 255 turns x 29 s
#: (about 2 h) per conversation, so 7 days evicts no live conversation of a
#: replay of it in ts order; the margin beyond that is a judgement.
STATE_TTL_MS = 7 * 24 * 3600 * 1000

#: The keyed annotation's output: the turn-order columns (``ts`` as epoch
#: µs) plus the fused plan's annotations that need no look-ahead.
_ANNOTATED = (
    "conv_id string, turn_idx int, ts long, role string,"
    " prev_idx int, prev_ts long, prev_role string, key_count long"
)
#: Keyed state: per seen turn index, its occurrence count and the ts/role of
#: its last row in turn order — parallel arrays (applyInPandasWithState
#: state is a flat struct), O(conversation length) per key.
_STATE = "turn_idx array<int>, n array<long>, ts array<long>, role array<string>"


def row_level_violations_stream(
    stream_df: DataFrame,
    role_domain: list[str] | None = None,
    tool_domain: list[str] | None = None,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The row-rule half of :func:`validation_stream` for the built-in row
    rules of plans/validate.default_rules — a streaming-safe projection (no
    shuffle, no state; valid in append output mode). ``keep_cols`` carries
    extra source columns (e.g. ``ts`` for downstream event-time windowing)."""
    rules, _ = split_rules(default_rules(role_domain, tool_domain))
    return expr_suite_violations(stream_df, rules, keys=("conv_id", "turn_idx", *keep_cols))


def validation_stream(stream_df: DataFrame, rules: list | None = None) -> DataFrame:
    """Violations of ``rules`` (default plans/validate.default_rules) over a
    stream, in the batch plan's columns; append output mode.

    Conversation rules judge well-keyed turns annotated by :func:`_annotate`,
    and a duplicate arriving in a later micro-batch fires ``uniqueness``
    with its running count. The stream emits exactly the batch plan's
    violations when it delivers each conversation in turn order, no
    (conv_id, turn_idx) split across micro-batches, and keeps every
    conversation's state until its last turn: its state is only evicted in
    a micro-batch that brings it no turn while the watermark (the largest
    ``ts`` seen, capped at the batch's clock so a future-dated row cannot
    push it ahead) is more than STATE_TTL_MS past max(its latest ``ts``,
    the watermark when its last turn arrived). For a feed in ``ts`` order
    that means no conversation idles longer than the TTL. An evicted
    conversation's next turn reads as a new conversation (``is_first``):
    ``contiguity_start``, ``conv_start_role`` and the like fire on it.
    A rule that looks ahead (reads ``is_last``) raises ``ValueError``
    naming it."""
    row_rules, conv_rules = split_rules(rules)
    found = [expr_suite_violations(stream_df, row_rules)] if row_rules else []
    if conv_rules:
        # the watermark follows ts capped at the batch's clock; ts crosses
        # pandas as epoch µs; _event is the watermarked column
        # (EventTimeWatermark.delayKey metadata) EventTimeTimeout requires,
        # NULL so that Spark's late-row filter drops nothing
        ts = F.col("ts").cast("timestamp")
        keyed = (
            well_keyed(stream_df)
            .withColumn("_clock", F.when(ts.isNotNull(), F.least(ts, F.current_timestamp())))
            .withWatermark("_clock", "0 seconds")
            .select(
                "conv_id",
                "turn_idx",
                "role",
                F.unix_micros(ts).alias("ts"),
                F.lit(None)
                .cast("timestamp")
                .alias("_event", metadata={"spark.watermarkDelayMs": 0}),
            )
        )
        turns = keyed.groupBy("conv_id").applyInPandasWithState(
            _annotate,
            outputStructType=_ANNOTATED,
            stateStructType=_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
        annotated = turns.withColumns(
            {
                "ts": F.timestamp_micros("ts"),
                "prev_ts": F.timestamp_micros("prev_ts"),
                "is_first": F.col("prev_idx").isNull(),
            }
        )
        for r in conv_rules:
            try:
                annotated.select(violation_array([r]))
            except AnalysisException as e:
                raise ValueError(
                    f"rule {r.name!r} cannot run on a stream: it reads a column the"
                    " keyed state does not annotate (look-ahead rules such as is_last"
                    " are batch-only)"
                ) from e
        found.append(explode_violations(annotated, violation_array(conv_rules)))
    return found[0] if len(found) == 1 else found[0].unionByName(found[1])


def _annotate(key, chunks, state):
    """One conversation's rows of a micro-batch, annotated from keyed state
    with the fused plan's lag columns — no check logic. The rows (all Arrow
    chunks) are sorted in schema.CONV_ORDER. A row repeating the previous
    row's index takes that row as its ``prev_*``; every other row takes the
    last row, in turn order, at the largest index below its own in state ∪
    the batch. ``key_count`` is the stored occurrence count plus the
    batch's. Timed-out state is dropped."""
    import pandas as pd

    if state.hasTimedOut:
        state.remove()
        return
    order = list(CONV_ORDER)
    rows = pd.concat(chunks, ignore_index=True).sort_values(
        order, na_position="first", ignore_index=True
    )
    seen = pd.DataFrame(
        dict(zip(("turn_idx", "n", "ts", "role"), state.get if state.exists else [[]] * 4))
    ).astype({"turn_idx": "int64", "n": "int64", "ts": "float64"})
    # last row per index, in turn order, over state then batch
    last = (
        pd.concat([seen[order], rows[order]], ignore_index=True)
        .sort_values(order, na_position="first")
        .drop_duplicates("turn_idx", keep="last")
        .reset_index(drop=True)
    )
    n = seen.set_index("turn_idx")["n"].add(rows.groupby("turn_idx").size(), fill_value=0)
    below = last["turn_idx"].searchsorted(rows["turn_idx"]) - 1
    prev = last.reindex(below).set_axis(rows.index)
    again = rows["turn_idx"].eq(rows["turn_idx"].shift())
    prev.loc[again] = rows[order].shift().loc[again]

    state.update(
        (
            last["turn_idx"].tolist(),
            n.loc[last["turn_idx"]].astype("int64").tolist(),
            [None if pd.isna(v) else int(v) for v in last["ts"]],
            last["role"].tolist(),
        )
    )
    # a timeout below the watermark raises INVALID_TIMEOUT_TIMESTAMP
    horizon, latest = state.getCurrentWatermarkMs(), last["ts"].max()
    if pd.notna(latest):
        horizon = max(horizon, int(latest) // 1000)
    state.setTimeoutTimestamp(horizon + STATE_TTL_MS)
    yield rows[["conv_id", *order]].assign(
        prev_idx=prev["turn_idx"],
        prev_ts=prev["ts"],
        prev_role=prev["role"],
        key_count=n.loc[rows["turn_idx"]].to_numpy(),
    )


def validation_sink(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> DataStreamWriter:
    """Full fused Pass B per micro-batch (foreachBatch → the batch plan),
    each epoch's violations written to ``out_dir/epoch=<id>``, so
    ``spark.read.parquet(out_dir)`` carries an ``epoch`` column and a
    replayed epoch never duplicates rows (:func:`_epoch_sink`). Start with
    ``.trigger(availableNow=True)`` for catch-up runs or a processing-time
    trigger for continuous ingestion."""
    return _epoch_sink(
        stream_df, lambda df, _: validate_transcripts(df), out_dir, "epoch={}", checkpoint_dir
    )


def windowed_violation_rates(
    stream_df: DataFrame,
    window_duration: str = "1 minute",
    watermark_delay: str = "2 minutes",
    role_domain: list[str] | None = None,
    tool_domain: list[str] | None = None,
) -> DataFrame:
    """Event-time windowed violation counts with a watermark — the streaming
    monitoring signal (violations/minute per check) a pipeline alerts on.

    The watermark bounds state: windows older than ``watermark_delay`` behind
    the max event time are finalized and evicted, so state is O(open windows),
    never O(stream). Rows later than the watermark are DROPPED FROM THE RATE
    AGGREGATION ONLY — this is a monitoring view; the validation path itself
    never watermarks violations away (a late row is a violation to report, see
    module docstring). Valid in append output mode (emits closed windows).
    Output: (window_start, window_end, check_name, violations).
    """
    v = row_level_violations_stream(
        stream_df, role_domain, tool_domain, keep_cols=("ts",)
    )
    return (
        v.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_duration), "check_name")
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "check_name",
            "violations",
        )
    )


def windowed_histogram_stream(
    stream_df: DataFrame,
    column: str = "role",
    ts_col: str = "ts",
    window_duration: str = "1 day",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Event-time windowed categorical counts — the STREAMING half of
    continuous drift monitoring: the stream maintains one (window, bucket)
    counter per open window (watermark bounds state to O(open windows ×
    |bucket domain|), never O(stream)), and closed windows emit exact
    counts in append mode. The batch half (checks/drift.drift_terms /
    drift_compare with ``by=("window_start", "window_end")``) compares the
    emitted rows with a persisted baseline for per-window PSI/KL/JS/chi2 —
    "which day drifted", computed without ever re-scanning the stream.
    Counts (not frequencies) are what's emitted precisely so the chi-square
    leg stays computable — the same reason write_histograms persists cnt.

    Output: checks/drift.windowed_counts rows (window_start, window_end,
    column, bucket, v, cnt) — the batch face's counts, row for row. NULL
    values bucket as '<null>'; rows later than the watermark are dropped
    from the MONITORING counts only (same posture as
    windowed_violation_rates — the validation path never watermarks
    violations away).
    """
    stream = _watermarked(stream_df, ts_col, watermark_delay)
    return windowed_counts(stream, [column], None, ts_col, window_duration)


def windowed_grid_counts_stream(
    stream_df: DataFrame,
    column: str,
    lo: float,
    hi: float,
    n_buckets: int = 1000,
    ts_col: str = "ts",
    window_duration: str = "1 day",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Numeric twin of :func:`windowed_histogram_stream`: per-event-time-
    window counts of ``column`` quantized onto a fixed grid
    (checks/ksdrift.grid_quantize — the grid comes from the persisted
    baseline artifact, clamp semantics as documented there). Quantization is
    a pure per-row projection, so the same watermark/append mechanics apply
    unchanged; state is O(open windows × n_buckets). The batch face with
    identical output is checks/drift.windowed_counts, and
    checks/drift.drift_compare turns the emitted rows into per-window
    KS/W1/chi2 against the baseline — continuous numeric drift monitoring
    with zero stream re-scans.

    Output: (window_start, window_end, column, bucket NULL, v, cnt). NULL
    values are dropped (a grid count is a statement about values); NULL
    event times are not counted, as in every windowed aggregation here.
    """
    grids = {column: (lo, hi, n_buckets)}
    stream = _watermarked(stream_df, ts_col, watermark_delay)
    return windowed_counts(stream, [], grids, ts_col, window_duration)


def _watermarked(stream_df: DataFrame, ts_col: str, delay: str) -> DataFrame:
    """The watermark on ``ts_col`` cast to TIMESTAMP like the batch face, so
    window bounds are the same parquet type whatever the stream input's
    timestamp flavor (an NTZ input would otherwise emit isAdjustedToUTC=false
    columns that clash with batch-face backfills of the same dataset)."""
    cast = stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return cast.withWatermark(ts_col, delay)


def dedup_stream(
    stream_df: DataFrame,
    id_cols: list[str],
    ts_col: str = "ts",
    delay: str = "10 minutes",
    content_col: str | None = None,
) -> DataFrame:
    """Streaming exact dedup: keep the FIRST arrival per key, drop later
    copies — the incremental analog of datapipe/dedup.exact_dedup for
    stream-fed corpora (retried producers, at-least-once sources).

    State is bounded by the watermark: ``dropDuplicatesWithinWatermark``
    evicts a key's dedup state once event time passes ``ts_col`` + ``delay``,
    so memory is ∝ keys per watermark window, never ∝ stream history — the
    property that keeps the operator alive on an unbounded 10^12-turn feed
    (plain ``dropDuplicates`` on a stream grows state forever). Duplicates
    arriving later than ``delay`` are NOT caught; the batch pass over the
    landed table (plans/runner.py) is the backstop, mirroring the
    batch-is-primary contract in this module's docstring.

    ``content_col`` switches to content-hash identity: dedups on
    ``md5(content_col)`` (adds ``text_hash``) instead of ``id_cols`` — e.g.
    drop re-posted documents whose ids differ.
    """
    s = stream_df.withWatermark(ts_col, delay)
    if content_col is not None:
        s = s.withColumn("text_hash", F.md5(F.col(content_col)))
        return s.dropDuplicatesWithinWatermark(["text_hash"])
    return s.dropDuplicatesWithinWatermark(list(id_cols))


def session_stats_stream(
    stream_df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "1 hour",
    delay: str = "30 minutes",
) -> DataFrame:
    """Streaming-native sessionization: Spark's built-in ``session_window``
    grows a per-key window while events keep arriving within ``gap`` and
    closes it after a silence — the incremental twin of
    datapipe/sessions.sessionize, with state bounded by the watermark
    (a session finalizes and its state evicts once event time passes its
    end + ``delay``; append mode emits exactly one row per closed session).

    Output: (key, session_start, session_end, n_events) — event-time
    timestamps from the window struct.
    """
    s = stream_df.withWatermark(ts_col, delay)
    return (
        s.groupBy(F.col(key_col), F.session_window(F.col(ts_col), gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key_col),
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def profile_partial_sink(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    columns: list[str] | None = None,
) -> DataStreamWriter:
    """Incremental profiling over a stream: every micro-batch folds into ONE
    mergeable partial-profile row (operators/profile.profile_partial) written
    to ``out_dir/epoch<id>`` — the streaming producer of the same artifact the
    batch CLI ``profile-partial`` writes, so "profile of everything ingested
    so far" is ``profile_merge(spark.read.parquet(f"{out_dir}/*"))`` at any
    moment, reading #batches rows and rescanning nothing. State is the
    aggregation's own partial buffers (bounded by #columns, not input); a
    replayed epoch never double-counts (:func:`_epoch_sink`).
    """
    from ..operators.profile import profile_partial

    def partial(batch_df: DataFrame, epoch_id: int) -> DataFrame:
        return profile_partial(batch_df, columns, run_id=f"epoch{epoch_id}")

    return _epoch_sink(stream_df, partial, out_dir, "epoch{}", checkpoint_dir)


def _epoch_sink(stream_df, frame, out_dir: str, subdir: str, checkpoint_dir: str):
    """foreachBatch writing ``frame(batch_df, epoch_id)`` with overwrite to
    its epoch's OWN ``out_dir/subdir.format(epoch_id)``. foreachBatch is
    at-least-once: a crash between the write and the checkpoint commit
    replays the epoch, and the replay lands on the same path — idempotent
    by construction, not by downstream dedupe."""

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        path = os.path.join(out_dir, subdir.format(epoch_id))
        frame(batch_df, epoch_id).write.mode("overwrite").parquet(path)

    return stream_df.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
