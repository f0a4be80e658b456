"""Structured Streaming incremental validation (streaming/incremental.py)."""

from __future__ import annotations

import datetime
import os

from pyspark.sql import functions as F

from schema_infer_plugin_spark.plans.validate import validate_transcripts
from schema_infer_plugin_spark.schema import TRANSCRIPTS_SCHEMA
from schema_infer_plugin_spark.sources.synth import synth_transcripts
from schema_infer_plugin_spark.streaming import (
    row_level_violations_stream,
    validation_sink,
    validation_stream,
)

ROW_LEVEL = {"domain_role", "domain_tool", "tool_without_role", "not_null_text"}


def _drain(writer):
    """Run ``writer`` as an availableNow query to its end. A query that has
    not terminated after 120 s fails the test; it is stopped either way."""
    q = writer.trigger(availableNow=True).start()
    try:
        assert q.awaitTermination(120), f"streaming query {q.id} did not terminate"
    finally:
        q.stop()
    return q


def _staged_input(spark, tmp_path, n_convs=1_500):
    src = str(tmp_path / "in")
    t = synth_transcripts(spark, n_convs)
    t.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(src)
    return t, stream


def test_row_level_stream_matches_batch(spark, tmp_path):
    t, stream = _staged_input(spark, tmp_path)
    out = str(tmp_path / "out")
    q = _drain(
        row_level_violations_stream(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
    )
    got = spark.read.parquet(out)
    want = validate_transcripts(t).filter(F.col("check_name").isin(list(ROW_LEVEL)))
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_foreach_batch_sink_full_fused(spark, tmp_path):
    t, stream = _staged_input(spark, tmp_path)
    out = str(tmp_path / "viol")
    q = _drain(
        validation_sink(stream, out, str(tmp_path / "ckpt2"))
    )
    got = spark.read.parquet(out).drop("epoch")
    # single-directory input => micro-batches align with files; with the whole
    # table in one load the fused result must match the batch plan exactly
    want = validate_transcripts(t)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_windowed_violation_rates_match_batch(spark, tmp_path):
    """Watermarked event-time windowed agg (complete mode for determinism in a
    bounded test) equals the batch windowed count of the same violations."""
    from schema_infer_plugin_spark.streaming import windowed_violation_rates

    t, stream = _staged_input(spark, tmp_path)
    q = _drain(
        windowed_violation_rates(stream, "1 minute", "2 minutes")
        .writeStream.format("memory")
        .queryName("winrates")
        .outputMode("complete")
    )
    got = spark.table("winrates")
    want = (
        validate_transcripts(t)
        .filter(F.col("check_name").isin(list(ROW_LEVEL)))
        .join(t.select("conv_id", "turn_idx", "ts").distinct(), ["conv_id", "turn_idx"])
        .groupBy(F.window("ts", "1 minute"), "check_name")
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "check_name",
            "violations",
        )
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    # the watermark is actually in the plan (bounded state, not a silent no-op)
    assert "EventTimeWatermark" in windowed_violation_rates(stream)._jdf.queryExecution().logical().toString()


def _file_stream(spark, src):
    """The files under ``src`` as a stream, one file per micro-batch, in
    the order they were written."""
    return (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*/")
    )


def _write_files(spark, src, files):
    """Each list of transcript rows as its own single-file parquet
    directory under ``src``, written in order."""
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA).coalesce(1).write.parquet(
            f"{src}/f{i}.parquet"
        )


def _turn(conv, idx, ts=datetime.datetime(2026, 1, 1), role="user"):
    return (conv, idx, role, "hi", None, ts)


def _to_parquet(df, tmp_path, name):
    return (
        df.writeStream.format("parquet")
        .option("path", str(tmp_path / name))
        .option("checkpointLocation", str(tmp_path / f"{name}_ckpt"))
    )


def test_stateful_contiguity_across_microbatches(spark, tmp_path):
    """Keyed state survives micro-batch boundaries: duplicates and gaps
    that SPAN batches are caught, which foreachBatch (per-batch exactness)
    cannot do."""
    from schema_infer_plugin_spark.plans.validate import default_rules

    src = str(tmp_path / "in")
    _write_files(
        spark,
        src,
        [
            # conv A turns 0,1 ; conv B starts at 5 (bad start)
            [_turn("A", 0), _turn("A", 1), _turn("B", 5)],
            # conv A turn 1 AGAIN (cross-batch dup) and turn 4 (cross-batch gap)
            [_turn("A", 1), _turn("A", 4)],
            # turn 1 a THIRD time — the occurrence count must carry in state —
            # plus NULL-key rows (engine-wide posture, plans/validate.py): they
            # must neither crash the worker nor fabricate sequence state
            [_turn("A", 1), _turn(None, 7), _turn(None, 7), _turn("A", None)],
        ],
    )
    seq = ("uniqueness", "contiguity", "contiguity_start")
    rules = [r for r in default_rules() if r.name in seq]
    q = _drain(_to_parquet(validation_stream(_file_stream(spark, src), rules), tmp_path, "out"))
    # the dup/gap genuinely spanned micro-batches (else this tests nothing)
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2
    got = sorted(
        (r["check_name"], r["conv_id"], r["turn_idx"], r["observed"], r["expected"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert got == [
        ("contiguity", "A", 4, "4", "2"),
        ("contiguity_start", "B", 5, "5", "0"),
        ("uniqueness", "A", 1, "2", "1"),
        ("uniqueness", "A", 1, "3", "1"),
    ]


def _stream_rules():
    """Every kind of rule that does not look ahead: the built-ins, the
    opener role, the transition whitelist, alternation and a user row rule."""
    from schema_infer_plugin_spark.checks.alternation import (
        alternation_rules,
        transition_rules,
    )
    from schema_infer_plugin_spark.checks.boundaries import boundary_rules
    from schema_infer_plugin_spark.checks.custom import Rule
    from schema_infer_plugin_spark.plans.validate import default_rules

    allowed = [
        "user->assistant", "assistant->user", "assistant->tool",
        "tool->assistant", "tool->tool", "system->user",
    ]
    return [
        *default_rules(),
        boundary_rules()[0],
        *transition_rules(allowed),
        *alternation_rules(),
        Rule("text_min_len", "length(text) >= 3", "text", "length(text)", ">= 3"),
    ]


def _property_files(spark, src):
    """synth transcripts plus injected duplicates, gaps, ts rewinds, NULL
    ts, bad openers and NULL-key rows, split over 4 files by turn_idx
    range: each conversation arrives in turn order and no
    (conv_id, turn_idx) spans two files. synth spreads conversation starts
    over 30 days, so after the first file the watermark runs weeks ahead of
    most conversations' ts, by more than the state TTL: their state
    survives because each brings a turn to every micro-batch until its
    last. Returns the files as one batch frame."""
    t = synth_transcripts(spark, 300).withColumn(
        "h", F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit("prop")), F.lit(100))
    )
    h, idx = F.col("h"), F.col("turn_idx")
    dups = t.filter((h == 0) & (idx > 0)).withColumns(
        {"role": F.lit("assistant"), "ts": F.col("ts") - F.expr("INTERVAL 1 SECOND")}
    )
    t = (
        t.unionByName(dups)
        .filter(~((h == 1) & (idx > 0)))
        .withColumns(
            {
                "ts": F.when(h == 2, F.col("ts") - F.expr("INTERVAL 1 HOUR"))
                .when(h == 3, F.lit(None))
                .otherwise(F.col("ts")),
                "role": F.when((idx == 0) & (h < 20), F.lit("assistant")).otherwise(
                    F.col("role")
                ),
                "conv_id": F.when(h == 4, F.lit(None)).otherwise(F.col("conv_id")),
                "turn_idx": F.when(h == 5, F.lit(None)).otherwise(idx),
                "file": F.least(F.floor(F.coalesce(idx, F.lit(0)) / 3), F.lit(3)),
            }
        )
        .drop("h")
        .localCheckpoint()
    )
    for i in range(4):
        t.filter(F.col("file") == i).drop("file").coalesce(1).write.parquet(
            f"{src}/f{i}.parquet"
        )
    return spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(src + "/*/")


def test_validation_stream_matches_batch(spark, tmp_path):
    """Property: the stream's cumulative output equals the fused batch plan
    over the whole input for every rule that does not look ahead. The run
    hands every key's rows to pandas in chunks of two (a conversation
    larger than one Arrow batch) under a non-UTC session time zone, where
    ts_monotonic's ``expected`` (>= prev_ts) must render as in batch:
    prev_ts crosses the pandas boundary without shifting."""
    src = str(tmp_path / "in")
    batch = _property_files(spark, src)
    rules = _stream_rules()
    settings = {
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2",
        "spark.sql.session.timeZone": "America/Los_Angeles",
    }
    before = {k: spark.conf.get(k) for k in settings}
    try:
        for k, v in settings.items():
            spark.conf.set(k, v)
        q = _drain(_to_parquet(validation_stream(_file_stream(spark, src), rules), tmp_path, "out"))
        got = spark.read.parquet(str(tmp_path / "out"))
        want = validate_transcripts(batch, rules)
        assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
        fired = {r["check_name"] for r in want.select("check_name").distinct().collect()}
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
    assert fired >= {
        "uniqueness", "contiguity", "contiguity_start", "ts_monotonic", "conv_start_role",
        "role_transition_domain", "role_alternation", "not_null_conv_id", "not_null_turn_idx",
    }


def test_validation_stream_state_is_evicted_after_ttl(spark, tmp_path):
    """Keyed state is bounded: once the watermark passes an idle
    conversation's last ts + STATE_TTL_MS, its state is evicted and only
    live conversations stay in the state store. The watermark is capped at
    the batch's clock, so a row dated past the TTL (Z) evicts no live
    state: D, which gets no turn in the next micro-batch, resumes without
    the false contiguity_start / conv_start_role of a fresh
    conversation."""
    from schema_infer_plugin_spark.checks.boundaries import boundary_rules
    from schema_infer_plugin_spark.plans.validate import default_rules
    from schema_infer_plugin_spark.streaming.incremental import STATE_TTL_MS

    ttl = datetime.timedelta(milliseconds=STATE_TTL_MS)
    now = datetime.datetime.now().replace(microsecond=0) - datetime.timedelta(hours=1)
    src = str(tmp_path / "in")
    _write_files(
        spark,
        src,
        [
            [
                _turn("A", 0, now - ttl - ttl),
                _turn("B", 0, now - ttl - ttl),
                _turn("D", 0, now),
                _turn("Z", 0, now + ttl + ttl),
            ],
            [_turn("C", 0, now)],
            [_turn("D", 1, now + datetime.timedelta(minutes=1), "assistant")],
        ],
    )
    rules = [*default_rules(), boundary_rules()[0]]
    q = _drain(_to_parquet(validation_stream(_file_stream(spark, src), rules), tmp_path, "out"))
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 3
    # A and B evicted; C, D and Z live
    assert q.recentProgress[-1]["stateOperators"][0]["numRowsTotal"] == 3
    got = spark.read.parquet(str(tmp_path / "out")).filter(F.col("conv_id") == "D")
    assert got.collect() == []


def test_validation_stream_refuses_look_ahead_rules(spark, tmp_path):
    """The stream has no is_last: conv_end_role raises, naming the rule."""
    import pytest

    from schema_infer_plugin_spark.checks.boundaries import boundary_rules

    os.makedirs(tmp_path / "in")
    stream = _file_stream(spark, str(tmp_path / "in"))
    with pytest.raises(ValueError, match="conv_end_role"):
        validation_stream(stream, boundary_rules())


def test_validation_sink_replay_writes_no_duplicates(spark, tmp_path):
    """foreachBatch is at-least-once: replaying the last epoch (its commit
    removed from the checkpoint) leaves the sink's rows unchanged."""
    _, stream = _staged_input(spark, tmp_path, n_convs=300)
    out, ckpt = str(tmp_path / "viol"), str(tmp_path / "ckpt")
    _drain(validation_sink(stream, out, ckpt))
    before = sorted(spark.read.parquet(out).collect())
    commits = os.path.join(ckpt, "commits")
    last = max((f for f in os.listdir(commits) if f.isdigit()), key=int)
    for f in (last, f".{last}.crc"):
        os.remove(os.path.join(commits, f))
    _drain(validation_sink(stream, out, ckpt))
    assert "epoch" in spark.read.parquet(out).columns
    assert sorted(spark.read.parquet(out).collect()) == before and before


def test_dedup_stream_drops_cross_batch_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps the first arrival per key across
    micro-batches (watermark-bounded state); content-hash mode dedups
    re-posted texts under new ids."""
    import datetime

    from schema_infer_plugin_spark.schema import TRANSCRIPTS_SCHEMA
    from schema_infer_plugin_spark.streaming import dedup_stream

    src = str(tmp_path / "din")
    os.makedirs(src)

    def row(conv, idx, text, minute):
        return (conv, idx, "user", text, None, datetime.datetime(2026, 1, 1, 0, minute))

    def write(batch, name):
        spark.createDataFrame(batch, TRANSCRIPTS_SCHEMA).coalesce(1).write.parquet(
            f"{src}/{name}.parquet"
        )

    write([row("A", 0, "x", 0), row("A", 1, "y", 1)], "b1")
    # duplicate key (A,0) in a LATER micro-batch, inside the watermark window
    write([row("A", 0, "x-retry", 2), row("B", 0, "z", 2)], "b2")

    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*/")
    )
    out = str(tmp_path / "dout")
    q = _drain(
        dedup_stream(stream, ["conv_id", "turn_idx"], delay="10 minutes")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "dckpt"))
    )
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2
    got = spark.read.parquet(out)
    keys = sorted((r["conv_id"], r["turn_idx"]) for r in got.collect())
    assert keys == [("A", 0), ("A", 1), ("B", 0)]
    # first arrival won: (A,0) kept text "x", not the retry
    assert {r["text"] for r in got.collect()} == {"x", "y", "z"}

    # content-hash identity: same text under a fresh id is dropped
    src2, out2 = str(tmp_path / "cin"), str(tmp_path / "cout")
    os.makedirs(src2)
    spark.createDataFrame(
        [row("A", 0, "same", 0)], TRANSCRIPTS_SCHEMA
    ).coalesce(1).write.parquet(src2 + "/b1.parquet")
    spark.createDataFrame(
        [row("C", 9, "same", 1), row("D", 2, "new", 1)], TRANSCRIPTS_SCHEMA
    ).coalesce(1).write.parquet(src2 + "/b2.parquet")
    stream2 = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src2 + "/*/")
    )
    q2 = _drain(
        dedup_stream(stream2, [], content_col="text")
        .writeStream.format("parquet")
        .option("path", out2)
        .option("checkpointLocation", str(tmp_path / "cckpt"))
    )
    texts = sorted(r["text"] for r in spark.read.parquet(out2).collect())
    assert texts == ["new", "same"]


def test_session_window_stream_matches_batch_sessionize(spark, tmp_path):
    """Built-in session_window sessions equal the batch gap-based
    sessionization on the same closed data (event time far past the
    watermark): same session count, bounds and sizes per key."""
    import datetime

    from schema_infer_plugin_spark.datapipe import session_stats, sessionize
    from schema_infer_plugin_spark.streaming import session_stats_stream

    rows = []
    for u in (1, 2, 3):
        base = datetime.datetime(2026, 1, 1, 8, 0, 0)
        for s_i in range(u):  # user u has u sessions, 3 events each
            start = base + datetime.timedelta(hours=3 * s_i)
            for e in range(3):
                rows.append((u, start + datetime.timedelta(minutes=10 * e)))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    # sentinel event two days later: the watermark only reaches
    # max_event_time - delay, so without it the globally-latest session
    # would never close and append mode would hold its row back
    sentinel = spark.createDataFrame(
        [(99, datetime.datetime(2026, 1, 3))], "user_id long, ts timestamp"
    )
    src = str(tmp_path / "sess_in")
    df.unionByName(sentinel).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    out = str(tmp_path / "sess_out")
    q = _drain(
        session_stats_stream(stream, gap="1 hour", delay="10 minutes")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
    )
    got = spark.read.parquet(out).filter(F.col("user_id") != 99)
    # batch analog over the same rows (same 1h gap)
    batch = session_stats(sessionize(df, "user_id", "ts", gap_seconds=3600), "user_id")
    # one row per (user, session); session counts and sizes must agree
    g = {(r["user_id"], r["session_start"]): r["n_events"] for r in got.collect()}
    b = {(r["user_id"], r["start_us"]): r["n_events"] for r in batch.collect()}
    assert len(g) == len(b) == 6  # 1+2+3 sessions
    assert sorted(g.values()) == sorted(b.values()) == [3] * 6
    # window bounds: each session starts at its first event's time
    starts_g = sorted(int(k[1].timestamp() * 1_000_000) for k in g)
    starts_b = sorted(v for _, v in b)
    assert starts_g == starts_b


def test_profile_partial_stream_merges_to_batch_profile(spark, tmp_path):
    """Incremental profiling: one partial-profile artifact row per
    micro-batch (maxFilesPerTrigger=1 forces several), merged WITHOUT
    rescanning input — exact-state equality with a direct batch partial
    (counts/min/max/ladder), estimate-close on the HLL distinct."""
    from schema_infer_plugin_spark.operators.profile import (
        profile_merge,
        profile_partial,
    )
    from schema_infer_plugin_spark.streaming.incremental import profile_partial_sink

    src = str(tmp_path / "in")
    t = synth_transcripts(spark, 1_500)
    t.write.mode("overwrite").parquet(src)
    cols = ["conv_id", "role", "turn_idx"]
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "partials")
    q = _drain(
        profile_partial_sink(stream, out, str(tmp_path / "ckpt_pp"), cols)
    )
    # one subdirectory per epoch (overwrite-on-replay idempotency)
    parts = spark.read.parquet(f"{out}/*")
    assert parts.count() > 1  # several micro-batches, one artifact row each
    got = {r["column"]: r for r in profile_merge(parts).collect()}
    want = {
        r["column"]: r
        for r in profile_merge(profile_partial(t, cols)).collect()
    }
    # quantiles are KLL estimates: a many-epoch merge is not bit-identical
    # to one batch sketch — estimate-close like the HLL distinct
    skip = {"run_id", "type_histogram", "distinct_approx", "quantiles"}
    for c in cols:
        for k in got[c].asDict():
            if k not in skip:
                assert got[c][k] == want[c][k], (c, k)
        assert abs(got[c]["distinct_approx"] - want[c]["distinct_approx"]) <= max(
            1, 0.02 * want[c]["distinct_approx"]
        )
        gq, wq = got[c]["quantiles"], want[c]["quantiles"]
        assert (gq is None) == (wq is None)
        if gq is not None:
            # KLL guarantees RANK error, not value error: on a discrete
            # column a 1-rank slip can jump a whole integer (20% in value
            # for small ints), so value-closeness vs the batch sketch is
            # the wrong tolerance model — assert each estimate's TRUE rank
            # interval in the data covers the requested rank within the
            # sketch's error (k=200 ≈ 1.3% one-sided; 5% merge headroom).
            import bisect

            vals = sorted(r[0] for r in t.select(c).dropna().collect())
            n = len(vals)
            for p, g in zip((0.25, 0.5, 0.75), gq):
                lo = bisect.bisect_left(vals, g) / n
                hi = bisect.bisect_right(vals, g) / n
                assert lo - 0.05 <= p <= hi + 0.05, (c, p, g, lo, hi)


def test_vector_sanity_stream_matches_batch(spark, tmp_path):
    """Stateless projection ⇒ the streamed violation set is row-identical to
    the batch run over the same staged vectors."""
    from schema_infer_plugin_spark.checks.vector_sanity import (
        vector_sanity_violations,
    )

    src = str(tmp_path / "vin")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # corrupt deterministically so every rule fires at least once
    nan = F.lit(float("nan")).cast("float")
    bad = emb.select(
        "vec_id",
        F.when(F.col("vec_id") % 11 == 0, F.lit(None))
        .when(F.col("vec_id") % 7 == 0, F.slice("embedding", 1, 60))
        .when(F.col("vec_id") % 5 == 0,
              F.concat(F.array(nan), F.slice("embedding", 2, 63)))
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    bad.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).parquet(src)
    out = str(tmp_path / "vout")
    q = _drain(
        vector_sanity_violations(stream, "vec_id", "embedding", dim=64)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "vckpt"))
    )
    got = spark.read.parquet(out)
    want = vector_sanity_violations(
        spark.read.parquet(src), "vec_id", "embedding", dim=64
    )
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_windowed_histogram_stream_matches_batch(spark, tmp_path):
    """Windowed categorical counts (complete mode for determinism) equal the
    batch window() groupBy of the same column; the watermark is actually in
    the plan (bounded state, not a silent no-op)."""
    from schema_infer_plugin_spark.streaming.incremental import (
        windowed_histogram_stream,
    )

    t, stream = _staged_input(spark, tmp_path)
    q = _drain(
        windowed_histogram_stream(stream, "role", "ts", "1 minute", "2 minutes")
        .writeStream.format("memory")
        .queryName("winhist")
        .outputMode("complete")
    )
    got = spark.table("winhist")
    want = (
        t.groupBy(
            F.window("ts", "1 minute"),
            F.coalesce(F.col("role").cast("string"), F.lit("<null>")).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            F.lit("role").alias("column"),
            "bucket",
            F.lit(None).cast("double").alias("v"),
            "cnt",
        )
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    plan = (
        windowed_histogram_stream(stream)._jdf.queryExecution().logical().toString()
    )
    assert "EventTimeWatermark" in plan


def test_windowed_grid_counts_stream_matches_batch(spark, tmp_path):
    """Windowed numeric grid counts (complete mode for determinism) equal the
    batch face, checks/drift.windowed_counts, on the same grid; the
    watermark is actually in the plan (bounded state, not a silent no-op)."""
    from schema_infer_plugin_spark.checks.drift import windowed_counts
    from schema_infer_plugin_spark.streaming.incremental import (
        windowed_grid_counts_stream,
    )

    t, stream = _staged_input(spark, tmp_path)
    q = _drain(
        windowed_grid_counts_stream(
            stream, "turn_idx", 0.0, 64.0, 16, "ts", "1 minute", "2 minutes"
        )
        .writeStream.format("memory")
        .queryName("wingrid")
        .outputMode("complete")
    )
    got = spark.table("wingrid")
    want = windowed_counts(t, [], {"turn_idx": (0.0, 64.0, 16)}, "ts", "1 minute")
    assert got.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    plan = (
        windowed_grid_counts_stream(stream, "turn_idx", 0.0, 64.0, 16)
        ._jdf.queryExecution()
        .logical()
        .toString()
    )
    assert "EventTimeWatermark" in plan


def test_stream_replay_queries_leave_nothing_behind(spark, tmp_path, monkeypatch):
    """A driver query replayed through Structured Streaming removes its
    staged input, output and checkpoint before it returns, and the frame it
    returns still reads: repeated calls leave the temp dir empty."""
    import tempfile
    from collections import Counter

    import __spark_entry__ as entrymod
    from tests.conftest import SF_SMOKE

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    frames = [entrymod.q_expr_suite_stream(spark, SF_SMOKE) for _ in range(2)]
    assert os.listdir(tmp_path) == []
    first, second = (Counter(map(tuple, f.collect())) for f in frames)
    assert first == second and first
