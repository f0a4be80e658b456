"""Incremental (Structured Streaming) validation of arriving transcripts.

The reference has NO streaming semantics — it bounded-samples a Kafka topic and
exits (SURVEY.md §2.10; /root/reference/schema_infer/plugin/optimistic.py:512-603)
— so batch is the engine's primary mode. But the transcripts table the engine
validates is stream-fed in production (agent transcripts land continuously), so
two incremental modes are provided:

1. ``row_level_violations_stream``: the stateless subset of Pass B (domain
   membership, tool-requires-role, not-null) as a pure streaming projection —
   works with any source/sink in append mode, no state, exact always.

2. ``validation_sink``: full fused Pass B per micro-batch via ``foreachBatch``
   reusing the EXACT batch plan (plans/validate.py) — uniqueness/contiguity are
   exact *within* each micro-batch. Cross-batch duplicates would need keyed
   state (``applyInPandasWithState``); the production contract instead appends
   conversations whole (a conversation's turns arrive in one commit), which
   makes per-batch validation exact. Ingestions that split conversations across
   commits must run the batch validator over the affected partitions — which is
   precisely what the checkpoint-resume runner (plans/runner.py) does cheaply.

Late/out-of-order data: violations carry event-time ``ts`` min/max per batch in
the console metrics; the engine does not drop late rows (validation wants them
— a late row is a contiguity violation to report, not noise to watermark away).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import DataStreamWriter

from schema_infer_plugin_spark.checks.custom import expr_suite_violations
from schema_infer_plugin_spark.checks.drift import windowed_counts
from schema_infer_plugin_spark.plans.validate import default_rules, validate_transcripts
from schema_infer_plugin_spark.schema import well_keyed


def row_level_violations_stream(
    stream_df: DataFrame,
    role_domain: list[str] | None = None,
    tool_domain: list[str] | None = None,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Stateless Pass-B subset — the row rules of plans/validate.default_rules
    — as a streaming-safe projection (no shuffle, no state; valid in append
    output mode). ``keep_cols`` carries extra source columns (e.g. ``ts`` for
    downstream event-time windowing)."""
    rules = [r for r in default_rules(role_domain, tool_domain) if not r.conv]
    return expr_suite_violations(stream_df, rules, keys=("conv_id", "turn_idx", *keep_cols))


def stream_expr_violations(
    stream_df: DataFrame,
    rules: list,
    keys: tuple[str, str] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Streaming face of the user-declared constraint suite (checks/custom.
    expr_suite_violations): the suite is a PURE PROJECTION (per-row CASE
    struct array → filter → explode), so it applies to a streaming frame
    unchanged — no state, no watermark, append output mode; each micro-batch
    emits its violations exactly once and the cumulative stream output is
    row-identical to the batch run over the same data (driver-checked by the
    ``expr_suite_stream`` query against the SAME oracle SQL as the batch
    ``expr_suite``)."""
    return expr_suite_violations(stream_df, rules, keys=keys)


def stream_vector_sanity(
    stream_df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
) -> DataFrame:
    """Streaming face of the embedding sanity check (checks/vector_sanity.
    vector_sanity_violations): like the expression suite, the check is a
    PURE PROJECTION (per-rule CASE structs → filter → explode over built-in
    higher-order functions), so it applies to a streaming frame unchanged —
    no state, no watermark, append mode; an embedding ingest pipeline gets
    per-vector NULL/dim/NaN/Inf/zero-norm violations as they arrive, and the
    cumulative stream output is row-identical to the batch run."""
    from ..checks.vector_sanity import vector_sanity_violations

    return vector_sanity_violations(stream_df, id_col, vec_col, dim=dim)


def validation_sink(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> DataStreamWriter:
    """Full fused Pass B per micro-batch (foreachBatch → the batch plan),
    violations appended to ``out_dir`` stamped with the micro-batch epoch.

    The stream's checkpoint gives exactly-once batch replay; parquet append +
    epoch column keeps replays idempotent to downstream readers (dedupe on
    epoch). Start with ``.trigger(availableNow=True)`` for catch-up runs or a
    processing-time trigger for continuous ingestion."""

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        (
            validate_transcripts(batch_df)
            .withColumn("epoch", F.lit(epoch_id))
            .write.mode("append")
            .parquet(out_dir)
        )

    return stream_df.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
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


#: Output schema of the stateful cross-batch check.
_STATEFUL_OUT = (
    "check_name string, conv_id string, turn_idx int, column string,"
    " observed string, expected string"
)
#: Keyed state: (turn_idx, occurrence count) for every index seen so far —
#: parallel arrays (applyInPandasWithState state is a flat struct). A repeat
#: arrival bumps its counter instead of growing the array, so state stays
#: O(distinct turn indexes) = O(conv length) per key no matter how many
#: duplicates arrive — the canonical bounded-state shape.
_STATEFUL_STATE = "idxs array<int>, counts array<int>"


def stateful_contiguity_stream(stream_df: DataFrame) -> DataFrame:
    """Cross-micro-batch uniqueness + contiguity via ``applyInPandasWithState``
    — the keyed-state operator the foreachBatch mode's docstring defers to.

    Per conversation the state is the set of turn indexes seen so far (any
    micro-batch). On each arriving row, in (turn_idx, arrival) order:

    * index already seen            → ``uniqueness`` violation (observed = the
      occurrence count including this arrival);
    * index beyond max(seen) + 1    → ``contiguity`` violation (expected
      max(seen) + 1);
    * first row of a conversation with index != 0 → ``contiguity_start``.

    NULL-key rows (conv_id or turn_idx NULL) are filtered before the
    stateful operator — the engine-wide posture (plans/validate.py):
    sequence state for keyless rows is meaningless (all NULL conv_ids would
    share ONE state key, fabricating uniqueness among unrelated rows — and
    one ever-growing hot state partition), and a NaN turn_idx would crash
    the int conversion in the worker. Their violations come from the
    row-level stream face (not_null_conv_id / not_null_turn_idx).

    Semantics are PROVISIONAL-ONLINE by design: a late row that fills an
    earlier gap is accepted silently (no retraction of the already-emitted gap
    violation). The exact batch pass (plans/runner.py) over the affected
    partitions remains the source of truth; this operator is the low-latency
    alert signal. Arrow-batched via pandas — no per-row Python rows cross the
    JVM boundary (§2.11 posture).
    """
    import pandas as pd  # noqa: F401 (imported for the worker closure)

    stream_df = well_keyed(stream_df)

    def check(key, pdfs, state):
        import pandas as pd

        if state.exists:
            idxs, counts = state.get
            occ: dict[int, int] = dict(zip(idxs, counts))
        else:
            occ = {}
        conv_id = key[0]
        out_rows: list[tuple] = []
        for pdf in pdfs:
            for idx in sorted(int(i) for i in pdf["turn_idx"]):
                n_prior = occ.get(idx, 0)
                if n_prior > 0:
                    # true cross-batch occurrence count, carried in state
                    out_rows.append(
                        ("uniqueness", conv_id, idx, "conv_id,turn_idx", str(n_prior + 1), "1")
                    )
                elif not occ:
                    if idx != 0:
                        out_rows.append(
                            ("contiguity_start", conv_id, idx, "turn_idx", str(idx), "0")
                        )
                elif idx > max(occ) + 1:
                    out_rows.append(
                        ("contiguity", conv_id, idx, "turn_idx", str(idx), str(max(occ) + 1))
                    )
                occ[idx] = n_prior + 1
        ordered = sorted(occ)
        state.update((ordered, [occ[i] for i in ordered]))
        if out_rows:
            yield pd.DataFrame(
                out_rows,
                columns=[
                    "check_name", "conv_id", "turn_idx", "column", "observed", "expected",
                ],
            )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream_df.groupBy("conv_id").applyInPandasWithState(
        check,
        outputStructType=_STATEFUL_OUT,
        stateStructType=_STATEFUL_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


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
    mergeable partial-profile row (operators/profile.profile_partial) appended to
    ``out_dir`` — the streaming producer of the same artifact the batch CLI
    ``profile-partial`` writes, so "profile of everything ingested so far"
    is ``profile_merge(spark.read.parquet(f"{out_dir}/*"))`` at any moment,
    reading #batches rows and rescanning nothing.

    State is the aggregation's own partial buffers (bounded by #columns, not
    input). foreachBatch is at-least-once: a crash between the artifact
    write and the checkpoint commit replays the epoch, so each epoch writes
    its OWN subdirectory with overwrite — the replay lands on the same path
    and the merged profile never double-counts (idempotent by construction,
    not by downstream dedupe).
    """
    import os

    from ..operators.profile import profile_partial

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        (
            profile_partial(batch_df, columns, run_id=f"epoch{epoch_id}")
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"epoch{epoch_id}"))
        )

    return stream_df.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
