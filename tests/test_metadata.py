"""Metadata-only pruning (S7/A9): footer row counts, empty-bucket skip
without scheduling a scan."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from schema_infer_plugin_spark.sources.metadata import (
    partition_row_counts,
    parquet_file_rows,
    prune_empty_tables,
    table_is_empty,
    table_row_count,
)

SF = "/root/testdata/sf0.001"


def test_footer_counts_match_actual_rows(spark):
    meta_n = table_row_count(f"{SF}/events.parquet")
    assert meta_n == spark.read.parquet(f"{SF}/events.parquet").count()
    assert meta_n > 0 and not table_is_empty(f"{SF}/events.parquet")


def test_missing_and_empty_paths(tmp_path):
    assert table_row_count(str(tmp_path / "nope.parquet")) == 0
    assert table_is_empty(str(tmp_path / "nope.parquet"))
    nonempty, empty = prune_empty_tables(SF, ("events", "documents", "ghost"))
    assert nonempty == ["events", "documents"] and empty == ["ghost"]


def test_partition_row_counts_from_dir(spark, tmp_path):
    df = spark.range(100).select(
        (F.col("id") % 4).cast("string").alias("partition_key"), F.col("id")
    )
    out = str(tmp_path / "parts")
    df.filter(F.col("partition_key") != "2").write.partitionBy("partition_key").parquet(out)
    counts = partition_row_counts(out)
    assert counts == {"0": 25, "1": 25, "3": 25}  # "2" absent entirely


def _poison(spark, df):
    """Any task that evaluates a row of this df raises — proves no scan ran."""

    def boom(s):
        raise RuntimeError("input was scanned")

    udf = F.udf(boom, StringType())
    return df.withColumn("conv_id", udf("conv_id"))


def test_all_buckets_pruned_schedules_no_scan(spark, tmp_path):
    """VERDICT r1 #4 acceptance: empty/missing buckets complete (ledger + PASS
    verdicts) without the input ever being read — enforced by a poisoned
    input that raises from any scan task."""
    from schema_infer_plugin_spark.plans.artifacts import completed_keys
    from schema_infer_plugin_spark.plans.runner import PASS_B, run_validation
    from schema_infer_plugin_spark.sources.synth import synth_transcripts

    out = str(tmp_path / "run")
    t = _poison(spark, synth_transcripts(spark, 50))
    summary = run_validation(
        spark, t, out, n_buckets=4, batch_buckets=4, bucket_rows={}
    )
    assert summary["pruned"] == 4 and summary["processed"] == 0
    assert completed_keys(spark, out, "run0", PASS_B) == {"0", "1", "2", "3"}
    verd = spark.read.parquet(f"{out}/verdicts")
    rows = verd.collect()
    from schema_infer_plugin_spark.plans.validate import CHECK_NAMES

    assert len(rows) == 4 * len(CHECK_NAMES)  # full (bucket × check) grid
    assert all(r["pass"] and r["violation_count"] == 0 for r in rows)


def test_mixed_prune_matches_full_run(spark, tmp_path):
    """Pruned buckets are equivalent to scanning their (empty) slice: same
    violations as the unpruned run over the same input, fewer scans."""
    from schema_infer_plugin_spark.plans.runner import run_validation, with_partition_key
    from schema_infer_plugin_spark.sources.synth import synth_transcripts

    t = synth_transcripts(spark, 200)
    # drop bucket 2's conversations from the input entirely
    keyed = with_partition_key(t, 4)
    subset = keyed.filter(F.col("partition_key") != "2").drop("partition_key")
    # bucket_rows as a bucket-partitioned layout's footers would report them
    part_dir = str(tmp_path / "bucketed")
    with_partition_key(subset, 4).write.partitionBy("partition_key").parquet(part_dir)
    bucket_rows = partition_row_counts(part_dir)
    assert set(bucket_rows) == {"0", "1", "3"}

    pruned_run = run_validation(
        spark, subset, str(tmp_path / "pruned"), n_buckets=4, batch_buckets=4,
        bucket_rows=bucket_rows,
    )
    full_run = run_validation(
        spark, subset, str(tmp_path / "full"), n_buckets=4, batch_buckets=4,
    )
    assert pruned_run["pruned"] == 1 and pruned_run["processed"] == 3
    assert full_run["pruned"] == 0 and full_run["processed"] == 4
    assert pruned_run["violations"] == full_run["violations"]
    assert pruned_run["rows"] == full_run["rows"]
    a = spark.read.parquet(str(tmp_path / "pruned" / "verdicts"))
    b = spark.read.parquet(str(tmp_path / "full" / "verdicts"))
    cols = ["partition_key", "check_name", "pass", "violation_count"]
    assert sorted(map(tuple, a.select(cols).collect())) == sorted(
        map(tuple, b.select(cols).collect())
    )


def test_runner_main_bucketed_input_prunes(spark, tmp_path, capsys):
    """The production entrypoint itself (runner main, `bucketed:` input) wires
    footer counts into pruning — not just the run_validation API."""
    from schema_infer_plugin_spark.plans.artifacts import completed_keys
    from schema_infer_plugin_spark.plans.runner import (
        PASS_B,
        main,
        with_partition_key,
        write_bucketed,
    )
    from schema_infer_plugin_spark.sources.synth import synth_transcripts

    t = synth_transcripts(spark, 200)
    keyed = with_partition_key(t, 4)
    bdir = str(tmp_path / "bucketed")
    write_bucketed(keyed.filter(F.col("partition_key") != "2"), bdir, 4)
    out = str(tmp_path / "out")
    main(["--input", f"bucketed:{bdir}", "--out", out, "--run-id", "m1",
          "--n-buckets", "4", "--batch-buckets", "4"])
    printed = capsys.readouterr().out
    assert "'pruned': 1" in printed
    assert completed_keys(spark, out, "m1", PASS_B) == {"0", "1", "2", "3"}


def test_unverified_bucketed_dir_never_prunes(spark, tmp_path, capsys):
    """ADVICE r2 (high): a dir whose partition values were NOT produced by
    with_partition_key at this n_buckets must be scanned in full. Two
    misconfigurations that previously slipped the key-subset guard: a foreign
    dir with no sidecar, and an engine dir written with a SMALLER n_buckets
    (its keys 0..3 are a subset of 0..7, but name different conv sets)."""
    from schema_infer_plugin_spark.plans.artifacts import completed_keys
    from schema_infer_plugin_spark.plans.runner import (
        PASS_B,
        main,
        with_partition_key,
        write_bucketed,
    )
    from schema_infer_plugin_spark.sources.metadata import verified_partition_counts
    from schema_infer_plugin_spark.sources.synth import synth_transcripts

    t = synth_transcripts(spark, 200)

    # (a) hand-written dir, no sidecar → verified counts refuse
    foreign = str(tmp_path / "foreign")
    with_partition_key(t, 4).write.partitionBy("partition_key").parquet(foreign)
    assert verified_partition_counts(foreign, 4) is None
    out_a = str(tmp_path / "out_a")
    main(["--input", f"bucketed:{foreign}", "--out", out_a, "--run-id", "a",
          "--n-buckets", "4", "--batch-buckets", "4"])
    assert "'pruned': 0" in capsys.readouterr().out
    assert completed_keys(spark, out_a, "a", PASS_B) == {"0", "1", "2", "3"}

    # (b) engine dir at n_buckets=4, run asks for 8 → sidecar mismatch;
    # under the OLD subset guard keys {0..3} ⊆ {0..7} would have pruned
    # buckets 4..7 — all of them live under 8-bucket hashing
    small = str(tmp_path / "small")
    write_bucketed(t, small, 4)
    assert verified_partition_counts(small, 8) is None
    assert verified_partition_counts(small, 4) is not None  # matching run: ok
    out_b = str(tmp_path / "out_b")
    main(["--input", f"bucketed:{small}", "--out", out_b, "--run-id", "b",
          "--n-buckets", "8", "--batch-buckets", "8"])
    assert "'pruned': 0" in capsys.readouterr().out


def test_verified_counts_fill_absent_buckets_with_zero(spark, tmp_path):
    """Under a VERIFIED scheme, a bucket absent from the dir listing is
    genuinely empty — verified_partition_counts returns an explicit 0 so the
    runner's full-key-set guard holds."""
    from schema_infer_plugin_spark.plans.runner import with_partition_key, write_bucketed
    from schema_infer_plugin_spark.sources.metadata import verified_partition_counts
    from schema_infer_plugin_spark.sources.synth import synth_transcripts

    t = with_partition_key(synth_transcripts(spark, 200), 4)
    bdir = str(tmp_path / "b")
    write_bucketed(t.filter(F.col("partition_key") != "2"), bdir, 4)
    counts = verified_partition_counts(bdir, 4)
    assert set(counts) == {"0", "1", "2", "3"}
    assert counts["2"] == 0 and all(counts[k] > 0 for k in ("0", "1", "3"))


def test_iceberg_partition_shaping_rejects_bucket_transform():
    """ADVICE r2 (high), Iceberg side: only an identity partition on the
    engine's own partition_key column unwraps to prunable keys. A
    bucket(N, conv_id) spec (field name conv_id_bucket) keeps its struct repr,
    which can never equal the runner's '0'..'N-1' keys."""
    from types import SimpleNamespace

    from schema_infer_plugin_spark.sources.metadata import _shape_iceberg_partition_rows

    class FakeStruct:
        def __init__(self, **kv):
            self._kv = kv

        def asDict(self):
            return dict(self._kv)

        def __str__(self):
            return f"Row({self._kv})"

    def row(part, n):
        return {"partition": part, "record_count": n}

    # identity on partition_key → bare keys, summed per key
    ident = [row(FakeStruct(partition_key="3"), 10), row(FakeStruct(partition_key="3"), 5)]
    assert _shape_iceberg_partition_rows(ident) == {"3": 15}

    # bucket transform → struct repr, NOT '0'..'N-1'
    bucketed = [row(FakeStruct(conv_id_bucket=0), 7)]
    shaped = _shape_iceberg_partition_rows(bucketed)
    assert set(shaped) & {str(i) for i in range(64)} == set()

    # multi-field spec → struct repr too
    multi = [row(FakeStruct(partition_key="1", ts_day="2026-01-01"), 3)]
    shaped2 = _shape_iceberg_partition_rows(multi)
    assert "1" not in shaped2
