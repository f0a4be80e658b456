"""Checkpoint-resume runner: kill/rerun equals single-shot (SURVEY.md §7.6)."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from schema_infer_plugin_spark.plans.artifacts import completed_keys, read_artifact, read_ledger
from schema_infer_plugin_spark.plans.runner import (
    PASS_A,
    PASS_B,
    Step,
    run_plan,
    run_profile,
    run_validation,
)
from schema_infer_plugin_spark.plans.validate import CHECK_NAMES, validate_transcripts
from schema_infer_plugin_spark.sources.synth import synth_transcripts

N_BUCKETS = 8
BATCH = 2


def _violations(spark, out):
    return spark.read.parquet(os.path.join(out, "violations"))


def _verdict_files(out):
    """The parquet files under ``out``'s verdicts dir, at any depth."""
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(os.path.join(out, "verdicts"))
        for f in files
        if f.endswith(".parquet")
    ]


def _verdict_rows(spark, out):
    cols = ["partition_key", "check_name", "pass", "violation_count"]
    verd = spark.read.parquet(os.path.join(out, "verdicts"))
    return sorted(map(tuple, verd.select(cols).collect()))


def _crash_after(n, seen=None):
    """An ``on_batch`` hook that appends each batch to ``seen`` and raises
    after the ``n``-th: a crash once that batch's ledger row is written."""
    seen = [] if seen is None else seen

    def hook(batch):
        seen.append(batch)
        if len(seen) >= n:
            raise RuntimeError(f"injected failure after batch {len(seen)}")

    return hook


def test_resume_after_injected_crash_matches_single_shot(spark, tmp_path):
    t = synth_transcripts(spark, 3_000).persist()
    try:
        single = str(tmp_path / "single")
        resumed = str(tmp_path / "resumed")

        s = run_validation(spark, t, single, n_buckets=N_BUCKETS, batch_buckets=BATCH)
        assert s["processed"] == N_BUCKETS and s["skipped"] == 0

        with pytest.raises(RuntimeError, match="injected failure"):
            run_validation(
                spark, t, resumed, n_buckets=N_BUCKETS, batch_buckets=BATCH,
                on_batch=_crash_after(2),
            )
        done_mid = completed_keys(spark, resumed, "run0", PASS_B)
        assert len(done_mid) == 2 * BATCH  # partial progress is durable
        assert _verdict_files(resumed) == []  # verdicts exist only for a finished run

        r = run_validation(spark, t, resumed, n_buckets=N_BUCKETS, batch_buckets=BATCH)
        assert r["skipped"] == 2 * BATCH
        assert r["processed"] == N_BUCKETS - 2 * BATCH

        a = _violations(spark, single).drop("partition_key")
        b = _violations(spark, resumed).drop("partition_key")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
        # the resumed grid: half from the ledger, half from this run's batches
        assert _verdict_rows(spark, resumed) == _verdict_rows(spark, single)
        assert len(_verdict_rows(spark, single)) == N_BUCKETS * len(CHECK_NAMES)

        # and the runner's output matches the fused plan run directly
        direct = validate_transcripts(t)
        assert direct.count() == b.count()
    finally:
        t.unpersist()


def test_ledger_lineage_metrics(spark, tmp_path):
    t = synth_transcripts(spark, 1_000)
    out = str(tmp_path / "run")
    run_validation(spark, t, out, n_buckets=4, batch_buckets=4)
    led = read_ledger(spark, out).filter(F.col("pass_name") == PASS_B)
    rows = led.collect()
    assert {r["partition_key"] for r in rows} == {"0", "1", "2", "3"}
    assert sum(r["rows_processed"] for r in rows) == t.count()
    assert all(r["wall_sec"] > 0 for r in rows)
    total_viol = sum(r["violation_count"] for r in rows)
    assert total_viol == validate_transcripts(t).count()


def test_verdicts_cover_every_bucket_and_check(spark, tmp_path):
    t = synth_transcripts(spark, 1_000)
    out = str(tmp_path / "run")
    run_validation(spark, t, out, n_buckets=4, batch_buckets=2)
    verd = spark.read.parquet(os.path.join(out, "verdicts"))
    assert verd.count() == 4 * len(CHECK_NAMES)
    # pass=True rows have zero violations, and vice versa
    bad = verd.filter(
        (F.col("pass") & (F.col("violation_count") > 0))
        | (~F.col("pass") & (F.col("violation_count") == 0))
    )
    assert bad.count() == 0


def test_runner_keeps_keyless_rows(spark, tmp_path):
    """NULL-key rows must survive the bucketed runner end to end: Spark's
    xxhash64(NULL) is the stable seeded hash (NOT NULL), so keyless rows land
    deterministically in one bucket and their not_null_* violations reach the
    violations sink and the ledger row counts — nothing silently vanishes."""
    t = synth_transcripts(spark, 500)
    extra = spark.createDataFrame(
        [(None, 7, "user", "x", None, None), ("conv_keyless", None, "user", "x", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    both = t.unionByName(extra)
    out = str(tmp_path / "run")
    run_validation(spark, both, out, n_buckets=4, batch_buckets=4)
    led = read_ledger(spark, out).filter(F.col("pass_name") == PASS_B)
    assert sum(r["rows_processed"] for r in led.collect()) == both.count()
    viol = spark.read.parquet(os.path.join(out, "violations"))
    assert viol.filter(F.col("check_name") == "not_null_conv_id").count() == 1
    assert viol.filter(F.col("check_name") == "not_null_turn_idx").count() == 1


def test_custom_rules_ride_validation_run(spark, tmp_path):
    """Config-declared expression constraints (checks/custom) ride the fused
    plan and extend every bucket's verdict grid."""
    import pytest

    t = synth_transcripts(spark, 500)
    out = str(tmp_path / "run")
    rules = [("turn_cap_3", "turn_idx <= 3", "turn_idx", "turn_idx", "<= 3")]
    run_validation(spark, t, out, n_buckets=4, batch_buckets=2, custom_rules=rules)

    viol = spark.read.parquet(os.path.join(out, "violations"))
    n_custom = viol.filter(F.col("check_name") == "turn_cap_3").count()
    assert n_custom == t.filter("turn_idx > 3").count() and n_custom > 0
    # built-in rows unchanged by the extra rule
    assert viol.filter(
        F.col("check_name") != "turn_cap_3"
    ).count() == validate_transcripts(t).count()

    verd = spark.read.parquet(os.path.join(out, "verdicts"))
    assert verd.count() == 4 * (len(CHECK_NAMES) + 1)
    custom_verd = verd.filter(F.col("check_name") == "turn_cap_3")
    assert custom_verd.count() == 4  # one verdict per bucket
    assert custom_verd.filter(~F.col("pass")).count() > 0

    with pytest.raises(ValueError, match="collide"):
        run_validation(
            spark, t, str(tmp_path / "run2"), n_buckets=2, batch_buckets=2,
            custom_rules=[("uniqueness", "1=1", "x", "x", "dup name")],
        )


def test_boundary_check_rides_validation_run(spark, tmp_path):
    """Opt-in conversation boundary rules (checks/boundaries.py) ride the
    fused plan and extend the verdict grid; name collisions with their check
    names raise."""
    from schema_infer_plugin_spark.checks.boundaries import boundary_rules

    t = synth_transcripts(spark, 500)
    out = str(tmp_path / "run")
    roles = (["user", "system"], ["assistant", "tool"])
    run_validation(
        spark, t, out, n_buckets=4, batch_buckets=2, boundary_roles=roles
    )

    viol = spark.read.parquet(os.path.join(out, "violations"))
    bnames = {"conv_start_role", "conv_end_role"}
    n_boundary = viol.filter(F.col("check_name").isin(*bnames)).count()
    assert n_boundary == validate_transcripts(t, boundary_rules()).count() > 0
    assert viol.filter(
        ~F.col("check_name").isin(*bnames)
    ).count() == validate_transcripts(t).count()

    verd = spark.read.parquet(os.path.join(out, "verdicts"))
    assert verd.count() == 4 * (len(CHECK_NAMES) + 2)
    assert verd.filter(F.col("check_name").isin(*bnames)).count() == 8

    with pytest.raises(ValueError, match="collide"):
        run_validation(
            spark, t, str(tmp_path / "run2"), n_buckets=2, batch_buckets=2,
            boundary_roles=roles,
            custom_rules=[("conv_start_role", "1=1", "x", "x", "dup name")],
        )


def test_transition_domain_rides_validation_run(spark, tmp_path):
    """Opt-in transition-whitelist rule (checks/alternation.
    transition_rules) rides the fused plan and extends the verdict grid —
    same posture as custom rules and the boundary check."""
    from schema_infer_plugin_spark.checks import transition_rules

    t = synth_transcripts(spark, 500)
    out = str(tmp_path / "run")
    allowed = ["user->assistant", "assistant->user", "assistant->tool",
               "tool->assistant", "system->user"]
    run_validation(
        spark, t, out, n_buckets=4, batch_buckets=2,
        allowed_transitions=allowed,
    )

    viol = spark.read.parquet(os.path.join(out, "violations"))
    n_tr = viol.filter(F.col("check_name") == "role_transition_domain").count()
    assert n_tr == validate_transcripts(t, transition_rules(allowed)).count() > 0
    assert viol.filter(
        F.col("check_name") != "role_transition_domain"
    ).count() == validate_transcripts(t).count()

    verd = spark.read.parquet(os.path.join(out, "verdicts"))
    assert verd.count() == 4 * (len(CHECK_NAMES) + 1)
    assert verd.filter(F.col("check_name") == "role_transition_domain").count() == 4

    with pytest.raises(ValueError, match="collide"):
        run_validation(
            spark, t, str(tmp_path / "run2"), n_buckets=2, batch_buckets=2,
            allowed_transitions=allowed,
            custom_rules=[("role_transition_domain", "1=1", "x", "x", "dup")],
        )


def _instrumented_run(spark, t, out, deterministic=False, **options) -> int:
    """run_validation over ``t`` with a conv_id column that counts its own
    evaluations; returns the count (one scan reads each row once).
    ``options`` default to n_buckets=4, batch_buckets=4.

    The counting UDF is non-deterministic by default, which stops Catalyst
    duplicating it into pushed-down filters on the recomputed key, so each
    evaluation maps 1:1 to a scanned row. ``deterministic=True`` is for
    input that carries a stored partition_key: the batch filter then reads
    no conv_id, and only a deterministic column lets it sink to the scan
    and prune partition directories."""
    from pyspark.sql.types import StringType

    acc = spark.sparkContext.accumulator(0)

    def tick(v):
        acc.add(1)
        return v

    udf = F.udf(tick, StringType())
    if not deterministic:
        udf = udf.asNondeterministic()
    instrumented = t.withColumn("conv_id", udf("conv_id"))
    options = {"n_buckets": 4, "batch_buckets": 4, **options}
    run_validation(spark, instrumented, out, **options)
    return acc.value


def test_one_input_scan_per_batch(spark, tmp_path):
    """VERDICT r2 #2 acceptance: ledger row counts now ride the violations
    write job as observations — each batch reads its input EXACTLY once. An
    accumulator-instrumented conv_id column counts evaluations: the old
    groupBy().count().collect() path made this 2× the row count."""
    t = synth_transcripts(spark, 300)
    n_rows = t.count()
    out = str(tmp_path / "run")
    assert _instrumented_run(spark, t, out) == n_rows  # the double-scan bug reads 2×

    # and the observation-fed ledger still carries exact per-bucket counts
    led = read_ledger(spark, out).filter(F.col("pass_name") == PASS_B)
    rows = led.collect()
    assert sum(r["rows_processed"] for r in rows) == n_rows
    assert sum(r["violation_count"] for r in rows) == validate_transcripts(t).count()


def test_one_input_scan_per_batch_every_option(spark, tmp_path):
    """Boundary roles, a transition whitelist and a custom rule reading
    ``text`` are rules of the ONE fused plan, so a batch still reads its
    input exactly once with every option on."""
    t = synth_transcripts(spark, 300)
    out = str(tmp_path / "run")
    scanned = _instrumented_run(
        spark, t, out,
        custom_rules=[("text_cap", "length(text) <= 40", "text", "length(text)", "<= 40")],
        boundary_roles=(["user", "system"], ["assistant", "tool"]),
        allowed_transitions=["user->assistant", "assistant->user"],
    )
    assert scanned == t.count()
    names = {r["check_name"] for r in _violations(spark, out).select("check_name").collect()}
    assert {"text_cap", "conv_start_role", "conv_end_role", "role_transition_domain"} <= names


def test_profile_pass_resumes_without_recompute(spark, tmp_path):
    t = synth_transcripts(spark, 500)
    out = str(tmp_path / "run")
    steps = [Step("run_profile", PASS_A, lambda: run_profile(spark, t, out))]
    p1 = run_profile(spark, t, out)
    n_ledger = read_ledger(spark, out).count()
    # second run: the ledger records the pass, so it is served from disk
    assert run_plan(spark, steps, out, "run0") == {"resumed": ["run_profile"]}
    p2 = read_artifact(spark, out, "profiles")
    assert read_ledger(spark, out).count() == n_ledger
    assert p1.count() == p2.count()


def test_inferred_domains_drive_validation(spark):
    """--infer-domains mode: inferred_domain_values returns the bounded
    accepted set, and run-validation wiring with it equals an explicit-domain
    run — inference-first validation without configured constants."""
    from schema_infer_plugin_spark.checks.domains import inferred_domain_values
    from schema_infer_plugin_spark.plans.validate import default_rules

    t = synth_transcripts(spark, 5_000).persist()
    try:
        roles = inferred_domain_values(t, "role", coverage=0.999)
        # the common roles are accepted; the 5e-5-rate injected 'moderator'
        # cannot clear a 99.9% cumulative bar
        assert {"user", "assistant", "system", "tool"} <= set(roles)
        assert "moderator" not in roles
        inferred = validate_transcripts(t, default_rules(role_domain=roles))
        explicit = validate_transcripts(t, default_rules(role_domain=sorted(roles)))
        assert inferred.exceptAll(explicit).count() == 0
        assert explicit.exceptAll(inferred).count() == 0
        # moderator rows ARE flagged under the inferred domain
        assert (
            inferred.filter(
                (F.col("check_name") == "domain_role")
                & (F.col("observed") == "moderator")
            ).count()
            > 0
        )
    finally:
        t.unpersist()


def test_violations_sample_bounded_and_deterministic(spark):
    from schema_infer_plugin_spark.operators.violations import violations_sample
    from schema_infer_plugin_spark.plans.validate import validate_transcripts

    t = synth_transcripts(spark, 2_000)
    viol = validate_transcripts(t)
    s = violations_sample(viol, k=3)
    per_check = {r["check_name"]: r["n"] for r in s.groupBy("check_name").agg(F.count("*").alias("n")).collect()}
    assert per_check and all(n <= 3 for n in per_check.values())
    a = sorted(map(tuple, s.drop("detail").collect()))
    b = sorted(map(tuple, violations_sample(viol, k=3).drop("detail").collect()))
    assert a == b


def test_write_triage_artifact(spark, tmp_path):
    """The runner's triage artifact is bounded (≤ k per check), stamped with
    run_id, and derived from the written violations."""
    from schema_infer_plugin_spark.plans.runner import write_triage

    t = synth_transcripts(spark, 2_000)
    out = str(tmp_path / "run")
    run_validation(spark, t, out, n_buckets=8, batch_buckets=8)
    n = write_triage(spark, out, k=4, run_id="run0")
    got = spark.read.parquet(str(tmp_path / "run" / "violations_triage"))
    assert n == got.count() > 0
    per_check = {
        r["check_name"]: r["n"]
        for r in got.groupBy("check_name").agg(F.count("*").alias("n")).collect()
    }
    assert all(v <= 4 for v in per_check.values())
    assert got.select("run_id").distinct().collect()[0][0] == "run0"
    # deterministic: rewriting yields identical rows (materialize before the
    # overwrite invalidates the first read's file listing)
    rows_a = sorted(map(tuple, got.collect()))
    write_triage(spark, out, k=4, run_id="run0")
    again = spark.read.parquet(str(tmp_path / "run" / "violations_triage"))
    assert sorted(map(tuple, again.collect())) == rows_a


def test_write_scorecard_artifact_matches_modular_scorecard(spark, tmp_path):
    """The runner's scorecard artifact (VERDICT r3 #5) equals
    violations_scorecard over the same validation output — i.e. the
    production runner now emits exactly what the driver's quality_scorecard
    query computes, plus the run_id stamp."""
    from schema_infer_plugin_spark.operators.violations import violations_scorecard
    from schema_infer_plugin_spark.plans.runner import write_scorecard

    t = synth_transcripts(spark, 2_000).persist()
    try:
        out = str(tmp_path / "run")
        run_validation(spark, t, out, n_buckets=8, batch_buckets=8)
        n = write_scorecard(spark, out, run_id="run0")
        card = spark.read.parquet(os.path.join(out, "scorecard"))
        assert n == card.count() > 0
        assert card.select("run_id").distinct().collect()[0][0] == "run0"
        # row equality vs the modular scorecard over the fused validation run
        # directly on the input (the artifact is derived from WRITTEN
        # violations — same rows by the runner's row-identity invariant)
        expect = sorted(
            map(tuple, violations_scorecard(validate_transcripts(t)).collect())
        )
        got = sorted(map(tuple, card.drop("run_id").collect()))
        assert got == expect
        # the __all__ grand-total row is always present
        assert any(r[0] == "__all__" for r in got)
    finally:
        t.unpersist()


def test_violations_diff_new_and_resolved(spark, tmp_path):
    """Row-level violation regression gate (run_violations_diff): NEW =
    identity in the current run only, RESOLVED = baseline only; pass iff no
    new rows. Built by running validation over two corpora whose injected
    violations differ by a known conversation slice."""
    from schema_infer_plugin_spark.plans.runner import PASS_VIOL_DIFF, run_violations_diff

    full = synth_transcripts(spark, 2_000).persist()
    try:
        # baseline: only the first half of conversations; current: all of them
        # -> every violation in the second half is NEW, none are RESOLVED
        half = full.filter(F.col("conv_id").substr(6, 8).cast("long") % 2 == 0)
        base_out, cur_out = str(tmp_path / "base"), str(tmp_path / "cur")
        run_validation(spark, half, base_out, n_buckets=4, batch_buckets=4)
        run_validation(spark, full, cur_out, n_buckets=4, batch_buckets=4)
        verd = run_violations_diff(spark, cur_out, base_out, run_id="r")
        rows = {r["check_name"]: r for r in verd.collect()}
        assert rows  # the synth corpus injects violations
        total_new = sum(r["n_new"] for r in rows.values())
        total_resolved = sum(r["n_resolved"] for r in rows.values())
        assert total_new > 0 and total_resolved == 0
        assert all((r["n_new"] == 0) == r["pass"] for r in rows.values())
        # every baseline violation still exists in current (superset corpus)
        assert all(
            r["n_current"] == r["n_baseline"] + r["n_new"] for r in rows.values()
        )
        # the regression sample artifact is bounded and non-empty
        new_sample = spark.read.parquet(str(tmp_path / "cur" / "violations_new"))
        assert 0 < new_sample.count() <= 100 * len(rows)
        # resumable: a second run reads the verdict back without recompute
        step = Step("run_violations_diff", PASS_VIOL_DIFF, lambda: run_violations_diff(
            spark, cur_out, base_out, run_id="r"
        ))
        assert run_plan(spark, [step], cur_out, "r") == {"resumed": ["run_violations_diff"]}
        again = read_artifact(spark, cur_out, "violations_diff_verdicts")
        assert sorted(map(tuple, again.collect())) == sorted(map(tuple, verd.collect()))
    finally:
        full.unpersist()


def _rows(df):
    """Sorted plain tuples of ``df`` (map values as sorted item tuples)."""
    def plain(v):
        return tuple(sorted(v.items())) if isinstance(v, dict) else v

    return sorted(tuple(plain(v) for v in r) for r in df.collect())


def _as_string_key(df):
    # partition columns read back as inferred ints
    return df.withColumn("partition_key", F.col("partition_key").cast("string"))


def test_verified_bucketed_batches_read_only_their_buckets(spark, tmp_path):
    """A verified ``bucketed:`` layout keeps its stored partition_key, so a
    batch's filter prunes partition directories: over 8 buckets in several
    row-packed batches the table is read once in all, not once per batch. A
    dir whose sidecar is absent or names another bucket count recomputes the
    key and scans the whole table per batch (batches of 2 buckets), with
    identical violations and verdicts."""
    from schema_infer_plugin_spark.plans.runner import resolve_transcripts_input, write_bucketed
    from schema_infer_plugin_spark.sources.metadata import (
        BUCKET_SCHEME_FILE,
        write_bucket_scheme,
    )

    t = synth_transcripts(spark, 300)
    n_rows = t.count()
    scanned, violations, verdict_rows = {}, {}, {}
    batches = {layout: [] for layout in ("verified", "absent", "mismatched")}
    for layout in batches:
        bdir = str(tmp_path / layout)
        write_bucketed(t, bdir, 8)
        if layout == "absent":
            os.remove(os.path.join(bdir, BUCKET_SCHEME_FILE))
        if layout == "mismatched":
            write_bucket_scheme(bdir, 4)
        src, bucket_rows = resolve_transcripts_input(spark, f"bucketed:{bdir}", 8)
        verified = layout == "verified"
        assert (bucket_rows is not None) == verified
        assert ("partition_key" in src.columns) == verified
        out = str(tmp_path / f"out_{layout}")
        scanned[layout] = _instrumented_run(
            spark, src, out, deterministic=verified,
            n_buckets=8, batch_buckets=2, batch_rows=n_rows // 4, bucket_rows=bucket_rows,
            on_batch=batches[layout].append,
        )
        violations[layout] = _rows(_as_string_key(_violations(spark, out)))
        verdict_rows[layout] = _rows(
            _as_string_key(spark.read.parquet(os.path.join(out, "verdicts")))
        )
    # 8 buckets in batches of 2: an unpruned layout is read once per batch
    assert len(batches["verified"]) > 1
    assert scanned["verified"] == n_rows
    assert [len(b) for b in batches["absent"]] == [2, 2, 2, 2]
    assert scanned["absent"] == scanned["mismatched"] == 4 * n_rows
    assert violations["verified"]  # the synth corpus injects violations
    assert violations["absent"] == violations["mismatched"] == violations["verified"]
    assert len(verdict_rows["verified"]) == 8 * len(CHECK_NAMES)
    assert verdict_rows["absent"] == verdict_rows["mismatched"] == verdict_rows["verified"]


def test_observed_verdicts_and_ledger_match_read_back(spark, tmp_path):
    """The verdicts and ledger counts a run builds on the driver, from its
    write's Observations and one grouped read-back per batch, are
    row-identical to ``verdicts()`` and per-bucket counts over what it
    wrote: shared fixture, every option on, row-packed batches, one
    metadata-pruned bucket and a crash-and-resume."""
    import __spark_entry__ as entrymod
    from schema_infer_plugin_spark.checks import boundary_rules, transition_rules
    from schema_infer_plugin_spark.checks.custom import as_rules
    from schema_infer_plugin_spark.operators.violations import verdicts
    from schema_infer_plugin_spark.plans.runner import (
        resolve_transcripts_input,
        with_partition_key,
        write_bucketed,
    )
    from schema_infer_plugin_spark.plans.validate import default_rules
    from schema_infer_plugin_spark.session import local_frame
    from tests.conftest import SF_CORRECT

    n = 8
    first, last = ["user", "system"], ["assistant", "tool"]
    source = with_partition_key(entrymod._transcripts(spark, SF_CORRECT), n)
    bdir = str(tmp_path / "bucketed")
    write_bucketed(source.filter(F.col("partition_key") != "5"), bdir, n)
    t, bucket_rows = resolve_transcripts_input(spark, f"bucketed:{bdir}", n)
    assert bucket_rows["5"] == 0
    out = str(tmp_path / "run")
    batches = []
    options = dict(
        n_buckets=n, bucket_rows=bucket_rows, on_batch=batches.append,
        # the first batch's budget holds buckets 0-2 and no more
        batch_rows=sum(bucket_rows[k] for k in "012"),
        custom_rules=list(entrymod._EXPR_RULES),
        boundary_roles=(first, last),
        allowed_transitions=entrymod._ALLOWED_TRANSITIONS,
    )
    # 5 is pruned, the first batch is [0,1,2]; crash after it
    with pytest.raises(RuntimeError, match="injected failure"):
        run_validation(spark, t, out, **{**options, "on_batch": _crash_after(1, batches)})
    assert batches == [["0", "1", "2"]]
    assert _verdict_files(out) == []  # a crashed run leaves no half grid
    resumed = run_validation(spark, t, out, **options)
    assert (resumed["skipped"], resumed["processed"]) == (4, 4)  # 3, 4, 6, 7
    assert sorted(sum(batches[1:], [])) == ["3", "4", "6", "7"]
    assert len(_verdict_files(out)) == 1

    names = [
        r.name
        for r in as_rules(
            default_rules()
            + boundary_rules(tuple(first), tuple(last))
            + transition_rules(entrymod._ALLOWED_TRANSITIONS)
            + list(entrymod._EXPR_RULES)
        )
    ]
    written = _as_string_key(_violations(spark, out))
    keys = local_frame(spark, [(str(i),) for i in range(n)], "partition_key string")
    got = _as_string_key(spark.read.parquet(os.path.join(out, "verdicts")))
    want = verdicts(written, keys, names, run_id="run0")
    assert _rows(got.select(*want.columns)) == _rows(want)
    assert len(_rows(got)) == n * len(names)
    assert got.filter(~F.col("pass")).count() > 0

    ledger = read_ledger(spark, out).filter(F.col("pass_name") == PASS_B).collect()
    per_bucket = lambda df: dict(df.groupBy("partition_key").count().collect())  # noqa: E731
    rows, viols = per_bucket(_as_string_key(t)), per_bucket(written)
    assert sorted(
        (r["partition_key"], r["rows_processed"], r["violation_count"]) for r in ledger
    ) == sorted((str(k), rows.get(str(k), 0), viols.get(str(k), 0)) for k in range(n))
    assert sum(rows.values()) == source.filter(F.col("partition_key") != "5").count()
    for r in ledger:
        assert sorted(r["check_counts"]) == sorted(names)
        assert sum(r["check_counts"].values()) == r["violation_count"]


def test_cell_count_guard_fails_loudly(spark):
    """Observed per-cell counts must account for every observed row; a row
    outside every cell raises instead of under-counting a verdict."""
    from schema_infer_plugin_spark.plans.runner import _cell_counts, _observe_cells

    df = spark.range(5)
    whole, obs = _observe_cells(df, "cells_whole", F.col("id") % 2, 2)
    whole.collect()
    assert _cell_counts(obs.get) == [3, 2]

    lossy, obs = _observe_cells(df, "cells_lossy", F.when(F.col("id") < 4, F.col("id") % 2), 2)
    lossy.collect()
    with pytest.raises(RuntimeError, match="outside every cell"):
        _cell_counts(obs.get)


def test_resume_refuses_ledger_rows_it_cannot_trust(spark, tmp_path):
    """A resume raises, naming the run and the checks, when a finished
    bucket's ledger row has no per-check counts (written before the ledger
    carried them) or counts for other checks than this run's rules: its
    verdicts would otherwise mix two grids."""
    from schema_infer_plugin_spark.session import local_frame

    t = synth_transcripts(spark, 300)
    options = dict(n_buckets=4, batch_buckets=2)

    # (a) a finished bucket recorded in the ledger's older, count-less shape
    old = str(tmp_path / "old")
    local_frame(
        spark,
        [("r_old", "0", PASS_B, 10, 0, 0.1, None)],
        "run_id string, partition_key string, pass_name string, rows_processed long,"
        " violation_count long, wall_sec double, completed_ts timestamp",
    ).write.parquet(os.path.join(old, "ledger"))
    with pytest.raises(RuntimeError, match=r"'r_old'.*bucket 0.*per-check counts.*uniqueness"):
        run_validation(spark, t, old, run_id="r_old", **options)

    # (b) the rule list changed between a crash and its resume
    changed = str(tmp_path / "changed")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_validation(spark, t, changed, run_id="r_chg", on_batch=_crash_after(1), **options)
    rule = ("turn_cap_3", "turn_idx <= 3", "turn_idx", "turn_idx", "<= 3")
    with pytest.raises(RuntimeError, match=r"'r_chg'.*differing checks: \['turn_cap_3'\]"):
        run_validation(spark, t, changed, run_id="r_chg", custom_rules=[rule], **options)
    assert _verdict_files(changed) == []
    # the unchanged rule list still resumes
    assert run_validation(spark, t, changed, run_id="r_chg", **options)["skipped"] == 2


def test_empty_verified_input_results(spark, tmp_path):
    """A verified ``bucketed:`` dir whose buckets are all empty completes
    without a scan, with the whole PASS grid in one verdict file and
    all-zero per-check counts in every ledger row."""
    from schema_infer_plugin_spark.plans.runner import resolve_transcripts_input, write_bucketed

    n = 4
    bdir = str(tmp_path / "bucketed")
    write_bucketed(synth_transcripts(spark, 50).limit(0), bdir, n)
    src, bucket_rows = resolve_transcripts_input(spark, f"bucketed:{bdir}", n)
    assert bucket_rows == {str(i): 0 for i in range(n)}
    out = str(tmp_path / "run")
    scanned = _instrumented_run(
        spark, src, out, deterministic=True, n_buckets=n, batch_buckets=2,
        bucket_rows=bucket_rows,
    )
    assert scanned == 0

    assert len(_verdict_files(out)) == 1
    verd = spark.read.parquet(os.path.join(out, "verdicts")).collect()
    assert sorted((r["partition_key"], r["check_name"]) for r in verd) == sorted(
        (str(k), c) for k in range(n) for c in CHECK_NAMES
    )
    assert all(r["pass"] and r["violation_count"] == 0 for r in verd)

    ledger = read_ledger(spark, out).filter(F.col("pass_name") == PASS_B).collect()
    assert sorted(r["partition_key"] for r in ledger) == [str(k) for k in range(n)]
    assert all(r["check_counts"] == dict.fromkeys(CHECK_NAMES, 0) for r in ledger)
    assert all(r["rows_processed"] == r["violation_count"] == 0 for r in ledger)


def _bucketed_input(spark, tmp_path, frame, n):
    """``frame`` written in the verified bucketed layout at ``n`` buckets and
    resolved as main() resolves it: (transcripts, bucket_rows)."""
    from schema_infer_plugin_spark.plans.runner import resolve_transcripts_input, write_bucketed

    bdir = str(tmp_path / "bucketed")
    write_bucketed(frame, bdir, n)
    t, bucket_rows = resolve_transcripts_input(spark, f"bucketed:{bdir}", n)
    assert bucket_rows is not None
    return t, bucket_rows


def test_row_batches_pack_by_rows_in_order():
    """Buckets pack in their order while the batch's rows stay within the
    budget, however many buckets that takes; a bucket above the budget is a
    batch of its own."""
    from schema_infer_plugin_spark.plans.runner import _row_batches

    rows = {"0": 4, "1": 3, "2": 50, "3": 2, "4": 2, "5": 2, "6": 9}
    keys = list(rows)
    # [0, 1]: 7 rows; [3, 4, 5]: 6 rows; adding 6 makes 15
    assert _row_batches(keys, rows, 10) == [["0", "1"], ["2"], ["3", "4", "5"], ["6"]]
    assert _row_batches(keys, rows, 5) == [["0"], ["1"], ["2"], ["3", "4"], ["5"], ["6"]]
    assert _row_batches(keys, rows, 10**9) == [keys]
    assert _row_batches([], rows, 10) == []


def test_hot_bucket_is_its_own_batch(spark, tmp_path):
    """On a verified layout a bucket holding more rows than
    ``batch_rows`` runs as a batch of its own; the buckets on either
    side of it pack together, in bucket order, within the budget."""
    n = 4
    hot = spark.range(3_000).selectExpr(
        "'conv_hot' AS conv_id", "CAST(id AS INT) AS turn_idx", "'user' AS role",
        "'hello there' AS text", "CAST(NULL AS STRING) AS tool",
        "CAST(1704067200 + id AS TIMESTAMP) AS ts",
    )
    frame = synth_transcripts(spark, 100).unionByName(hot)
    t, bucket_rows = _bucketed_input(spark, tmp_path, frame, n)
    hot_key = max(bucket_rows, key=bucket_rows.get)
    budget = bucket_rows[hot_key] - 1
    rest = [str(k) for k in range(n) if str(k) != hot_key]
    assert all(bucket_rows[k] > 0 for k in rest)
    assert 3 * sum(bucket_rows[k] for k in rest) <= budget  # the rest pack together
    batches = []
    out = str(tmp_path / "run")
    run_validation(
        spark, t, out, n_buckets=n, batch_rows=budget, bucket_rows=bucket_rows,
        on_batch=batches.append,
    )
    before, after = [k for k in rest if k < hot_key], [k for k in rest if k > hot_key]
    assert batches == [b for b in (before, [hot_key], after) if b]
    led = read_ledger(spark, out).filter(F.col("pass_name") == PASS_B).collect()
    assert sum(r["rows_processed"] for r in led) == frame.count()


def test_recomputed_key_keeps_batch_buckets(spark, tmp_path):
    """Verified counts over input without the stored key (as ``iceberg:``
    input arrives): every batch scans the whole table, so the buckets are
    not packed by rows, whatever ``batch_rows`` is; at most
    ceil(n_buckets / batch_buckets) batches, one table read each."""
    from schema_infer_plugin_spark.plans.runner import with_partition_key

    n, per_batch = 8, 2
    t = synth_transcripts(spark, 300)
    n_rows = t.count()
    bucket_rows = dict(with_partition_key(t, n).groupBy("partition_key").count().collect())
    assert "partition_key" not in t.columns and len(bucket_rows) == n
    batches = []
    scanned = _instrumented_run(
        spark, t, str(tmp_path / "run"), n_buckets=n, batch_buckets=per_batch,
        batch_rows=1, bucket_rows=bucket_rows, on_batch=batches.append,
    )
    assert len(batches) <= math.ceil(n / per_batch)
    assert [len(b) for b in batches] == [per_batch] * (n // per_batch)
    assert scanned == len(batches) * n_rows


def _clean(spark):
    """200 rows, 20 conversations, that break no built-in rule."""
    return spark.range(200).selectExpr(
        "CONCAT('conv_', CAST(id % 20 AS STRING)) AS conv_id",
        "CAST(id DIV 20 AS INT) AS turn_idx", "'user' AS role", "'hello there' AS text",
        "CAST(NULL AS STRING) AS tool", "CAST(1704067200 + id AS TIMESTAMP) AS ts",
    )


def test_batch_without_violations_completes(spark, tmp_path):
    """A batch that writes no violation row still yields its observed
    counts: the empty write keeps its Observations (AQE would otherwise
    drop the empty stage that carries them) and the run completes."""
    t, bucket_rows = _bucketed_input(spark, tmp_path, _clean(spark), 4)
    out = str(tmp_path / "run")
    s = run_validation(spark, t, out, n_buckets=4, batch_rows=1, bucket_rows=bucket_rows)
    assert (s["rows"], s["violations"]) == (200, 0)
    assert all(r[2] and r[3] == 0 for r in _verdict_rows(spark, out))
    led = read_ledger(spark, out).filter(F.col("pass_name") == PASS_B).collect()
    assert sorted((r["partition_key"], r["rows_processed"]) for r in led) == sorted(
        (k, n) for k, n in bucket_rows.items()
    )


def test_verified_count_off_by_one_raises(spark, tmp_path):
    """On a verified layout each bucket's ``rows_processed`` is its footer
    count, so the batch's one observed ``count(1)`` must equal their sum: a
    count off by one (the input files changed after verification) raises,
    naming the batch's buckets and both totals, and records no bucket."""
    import re

    n = 4
    t, bucket_rows = _bucketed_input(spark, tmp_path, synth_transcripts(spark, 200), n)
    assert all(bucket_rows[str(k)] > 0 for k in range(n))
    total = sum(bucket_rows.values())
    off = {**bucket_rows, "2": bucket_rows["2"] + 1}
    out = str(tmp_path / "run")
    named = re.escape(f"{['0', '1', '2', '3']} read {total} input rows")
    with pytest.raises(RuntimeError, match=rf"{named}.*sum to {total + 1}"):
        run_validation(spark, t, out, n_buckets=n, bucket_rows=off)
    assert completed_keys(spark, out, "run0", PASS_B) == set()
    assert _verdict_files(out) == []


def test_read_back_lists_only_its_batch_directories(spark, tmp_path, monkeypatch):
    """Over many one-bucket batches, each batch's violations read-back reads
    files under its own ``partition_key=`` directories only, so a run lists
    each bucket's directory once rather than every directory per batch; its
    ``partition_key`` column survives (the ledger counts stay exact)."""
    from schema_infer_plugin_spark.plans import runner

    n = 8
    t, bucket_rows = _bucketed_input(spark, tmp_path, synth_transcripts(spark, 400), n)
    read, reads = runner.read_artifact, []

    def spy(spark, out_dir, name, *args, **kwargs):
        frame = read(spark, out_dir, name, *args, **kwargs)
        if name == "violations":
            reads.append((kwargs.get("partitions"), frame.inputFiles()))
        return frame

    monkeypatch.setattr(runner, "read_artifact", spy)
    batches = []
    out = str(tmp_path / "run")
    s = run_validation(
        spark, t, out, n_buckets=n, batch_rows=1, bucket_rows=bucket_rows,
        on_batch=batches.append,
    )
    assert len(batches) == n and [p for p, _ in reads] == batches
    for batch, files in reads:
        dirs = {os.path.basename(os.path.dirname(f)) for f in files}
        assert dirs <= {f"partition_key={k}" for k in batch}, (batch, files)
    assert sum(len(files) for _, files in reads) == len(_violations(spark, out).inputFiles())
    led = read_ledger(spark, out).filter(F.col("pass_name") == PASS_B).collect()
    assert sum(r["violation_count"] for r in led) == s["violations"] == _violations(spark, out).count()


def test_stale_bucket_directory_raises(spark, tmp_path):
    """Dynamic overwrite replaces only the bucket directories a write
    touches. Rows an earlier write left in a pending bucket's directory (a
    crash before its ledger append, resumed with another rule list) that
    this write does not replace make the batch's read-back exceed what the
    write wrote: the run raises naming that directory, and writes no
    verdicts beside the old rows."""
    from schema_infer_plugin_spark.plans.artifacts import write_artifact
    from schema_infer_plugin_spark.schema import VIOLATION_SCHEMA
    from schema_infer_plugin_spark.session import local_frame

    out = str(tmp_path / "run")
    stale = [("turn_cap_0", "conv_3", 3, "turn_idx", "3", "<= 0", "2")]
    write_artifact(spark, out, "violations", local_frame(spark, stale, VIOLATION_SCHEMA))
    with pytest.raises(RuntimeError, match=r"wrote 0 rows, but 1 are under \['partition_key=2'\]"):
        run_validation(spark, _clean(spark), out, n_buckets=4, batch_buckets=4)
    assert completed_keys(spark, out, "run0", PASS_B) == set()
    assert _verdict_files(out) == []


def test_crash_between_write_and_ledger_append_matches_single_shot(
    spark, tmp_path, monkeypatch
):
    """A crash after a batch's violations write and before its ledger
    append: the resume re-runs that batch, replaces the directories it
    wrote, and ends with the violations, verdicts and ledger rows (apart
    from wall time and timestamp) of a single-shot run."""
    from schema_infer_plugin_spark.plans import runner

    n = 8
    t, bucket_rows = _bucketed_input(spark, tmp_path, synth_transcripts(spark, 400), n)
    options = dict(n_buckets=n, bucket_rows=bucket_rows, batch_rows=sum(bucket_rows.values()) // 4)
    single, resumed = str(tmp_path / "single"), str(tmp_path / "resumed")
    run_validation(spark, t, single, **options)

    append, appends = runner.append_ledger, []

    def crash_on_second_batch(spark, out_dir, run_id, pass_name, metrics, *rest):
        if pass_name == PASS_B:
            appends.append([m[0] for m in metrics])
            if len(appends) == 2:
                raise RuntimeError("crash before the ledger append")
        return append(spark, out_dir, run_id, pass_name, metrics, *rest)

    monkeypatch.setattr(runner, "append_ledger", crash_on_second_batch)
    with pytest.raises(RuntimeError, match="crash before the ledger append"):
        run_validation(spark, t, resumed, **options)
    monkeypatch.undo()
    lost = appends[1]  # written, not recorded
    assert completed_keys(spark, resumed, "run0", PASS_B) == set(appends[0])
    assert any(
        os.path.isdir(os.path.join(resumed, "violations", f"partition_key={k}")) for k in lost
    )
    r = run_validation(spark, t, resumed, **options)
    assert r["skipped"] == len(appends[0])

    assert _rows(_violations(spark, resumed)) == _rows(_violations(spark, single))
    assert _verdict_rows(spark, resumed) == _verdict_rows(spark, single)
    ledger = lambda out: _rows(read_ledger(spark, out).drop("wall_sec", "completed_ts"))  # noqa: E731
    assert ledger(resumed) == ledger(single)


def test_row_packed_resume_matches_single_shot(spark, tmp_path):
    """A crash and resume over row-packed batches writes the violations,
    verdicts and ledger rows (apart from wall time and timestamp) of a
    single-shot run, and the resume plans only the buckets the ledger does
    not record."""
    n = 8
    t, bucket_rows = _bucketed_input(spark, tmp_path, synth_transcripts(spark, 400), n)
    options = dict(n_buckets=n, bucket_rows=bucket_rows, batch_rows=sum(bucket_rows.values()) // 4)
    single, resumed = str(tmp_path / "single"), str(tmp_path / "resumed")
    run_validation(spark, t, single, **options)
    first, second = [], []
    with pytest.raises(RuntimeError, match="injected failure"):
        run_validation(spark, t, resumed, on_batch=_crash_after(2, first), **options)
    r = run_validation(spark, t, resumed, on_batch=second.append, **options)
    done = sum(first, [])
    assert len(first) == 2 and second and r["skipped"] == len(done)
    assert sum(second, []) == [str(k) for k in range(n) if str(k) not in done]

    assert _rows(_violations(spark, resumed)) == _rows(_violations(spark, single))
    assert _verdict_rows(spark, resumed) == _verdict_rows(spark, single)
    ledger = lambda out: _rows(read_ledger(spark, out).drop("wall_sec", "completed_ts"))  # noqa: E731
    assert ledger(resumed) == ledger(single)
    assert len(ledger(single)) == n


def _write_plans(spark, since: int, path: str) -> list[str]:
    """The physical plan texts (Spark's formatted explain) of the SQL
    executions after id ``since`` that write files to ``path``."""
    listed = spark._jsparkSession.sharedState().statusStore().executionsList()
    execs = [listed.apply(i) for i in range(listed.size())]
    return [
        e.physicalPlanDescription()
        for e in execs
        if e.executionId() > since and f"Arguments: file:{path}, " in e.physicalPlanDescription()
    ]


def test_packed_batch_plan_gate(spark, tmp_path):
    """A row-packed batch over a verified layout, every option on, writes
    from one plan with one parquet scan, pruned by a partition filter on
    ``partition_key``; no row-at-a-time Python, and ``text`` in no
    exchange's input."""
    import re

    import __spark_entry__ as entrymod

    n = 8
    t, bucket_rows = _bucketed_input(spark, tmp_path, synth_transcripts(spark, 300), n)
    listed = spark._jsparkSession.sharedState().statusStore().executionsList()
    since = max((listed.apply(i).executionId() for i in range(listed.size())), default=-1)
    batches = []
    out = str(tmp_path / "run")
    run_validation(
        spark, t, out, n_buckets=n, bucket_rows=bucket_rows, on_batch=batches.append,
        custom_rules=list(entrymod._EXPR_RULES),  # text_min_len reads text
        boundary_roles=(["user", "system"], ["assistant", "tool"]),
        allowed_transitions=entrymod._ALLOWED_TRANSITIONS,
    )
    assert len(batches) == 1 and len(batches[0]) == n  # one batch: every bucket
    (plan,) = _write_plans(spark, since, os.path.join(out, "violations"))
    assert len(set(re.findall(r"^\((\d+)\) Scan parquet", plan, re.M))) == 1, plan
    assert re.search(r"^PartitionFilters: \[.*partition_key", plan, re.M), plan
    assert "BatchEvalPython" not in plan
    exchanged = re.findall(r"^\(\d+\) Exchange\nInput \[\d+\]: \[(.*)\]$", plan, re.M)
    assert exchanged and not any(re.search(r"\btext#", cols) for cols in exchanged), plan
