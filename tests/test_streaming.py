"""Structured Streaming incremental validation (streaming/incremental.py)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from schema_infer_plugin_spark.plans.validate import validate_transcripts
from schema_infer_plugin_spark.schema import TRANSCRIPTS_SCHEMA
from schema_infer_plugin_spark.sources.synth import synth_transcripts
from schema_infer_plugin_spark.streaming import (
    row_level_violations_stream,
    validation_sink,
)

ROW_LEVEL = {"domain_role", "domain_tool", "tool_without_role", "not_null_text"}


def _staged_input(spark, tmp_path, n_convs=1_500):
    src = str(tmp_path / "in")
    t = synth_transcripts(spark, n_convs)
    t.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(src)
    return t, stream


def test_row_level_stream_matches_batch(spark, tmp_path):
    t, stream = _staged_input(spark, tmp_path)
    out = str(tmp_path / "out")
    q = (
        row_level_violations_stream(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    want = validate_transcripts(t).filter(F.col("check_name").isin(list(ROW_LEVEL)))
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_foreach_batch_sink_full_fused(spark, tmp_path):
    t, stream = _staged_input(spark, tmp_path)
    out = str(tmp_path / "viol")
    q = (
        validation_sink(stream, out, str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
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
    q = (
        windowed_violation_rates(stream, "1 minute", "2 minutes")
        .writeStream.format("memory")
        .queryName("winrates")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
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


def test_stateful_contiguity_across_microbatches(spark, tmp_path):
    """applyInPandasWithState: keyed state survives micro-batch boundaries —
    duplicates and gaps that SPAN batches are caught, which foreachBatch
    (per-batch exactness) cannot do."""
    from schema_infer_plugin_spark.schema import TRANSCRIPTS_SCHEMA
    from schema_infer_plugin_spark.streaming import stateful_contiguity_stream

    src = str(tmp_path / "in")
    os.makedirs(src)

    def rows(df_rows):
        return spark.createDataFrame(df_rows, TRANSCRIPTS_SCHEMA)

    def row(conv, idx):
        import datetime

        return (conv, idx, "user", "hi", None, datetime.datetime(2026, 1, 1))

    # batch 1: conv A turns 0,1 ; conv B starts at 5 (bad start)
    rows([row("A", 0), row("A", 1), row("B", 5)]).coalesce(1).write.parquet(
        src + "/b1.parquet"
    )
    # batch 2: conv A turn 1 AGAIN (cross-batch dup) and turn 4 (cross-batch gap)
    rows([row("A", 1), row("A", 4)]).coalesce(1).write.parquet(src + "/b2.parquet")
    # batch 3: turn 1 a THIRD time — the occurrence counter must carry in
    # state — plus NULL-key rows (engine-wide posture, plans/validate.py):
    # they must neither crash the NaN->int conversion in the worker nor
    # fabricate sequence state among keyless rows
    rows(
        [row("A", 1), row(None, 7), row(None, 7), row("A", None)]
    ).coalesce(1).write.parquet(src + "/b3.parquet")

    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*/")
    )
    out = str(tmp_path / "out")
    q = (
        stateful_contiguity_stream(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # the dup/gap genuinely spanned micro-batches (else this tests nothing)
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2
    got = {
        (r["check_name"], r["conv_id"], r["turn_idx"], r["observed"], r["expected"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        ("contiguity_start", "B", 5, "5", "0"),
        ("uniqueness", "A", 1, "2", "1"),
        ("uniqueness", "A", 1, "3", "1"),
        ("contiguity", "A", 4, "4", "2"),
    }


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
    q = (
        dedup_stream(stream, ["conv_id", "turn_idx"], delay="10 minutes")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "dckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
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
    q2 = (
        dedup_stream(stream2, [], content_col="text")
        .writeStream.format("parquet")
        .option("path", out2)
        .option("checkpointLocation", str(tmp_path / "cckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
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
    q = (
        session_stats_stream(stream, gap="1 hour", delay="10 minutes")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
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
    q = (
        profile_partial_sink(stream, out, str(tmp_path / "ckpt_pp"), cols)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
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
    from schema_infer_plugin_spark.streaming.incremental import stream_vector_sanity

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
    q = (
        stream_vector_sanity(stream, "vec_id", "embedding", dim=64)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "vckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
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
    q = (
        windowed_histogram_stream(stream, "role", "ts", "1 minute", "2 minutes")
        .writeStream.format("memory")
        .queryName("winhist")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
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
    q = (
        windowed_grid_counts_stream(
            stream, "turn_idx", 0.0, 64.0, 16, "ts", "1 minute", "2 minutes"
        )
        .writeStream.format("memory")
        .queryName("wingrid")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
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
