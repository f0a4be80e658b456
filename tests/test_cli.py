"""CLI surface parity (reference: schema-infer infer|list-topics|validate-topics|version)."""

from __future__ import annotations

import json
import os

from schema_infer_plugin_spark.cli import main

SF = "/root/testdata/sf0.001"


def test_infer_writes_avro_schema(spark, tmp_path, capsys):
    out = str(tmp_path / "schemas")
    rc = main(["infer", "--input", SF, "--table", "documents", "--format", "avro", "--output", out])
    assert rc == 0
    path = os.path.join(out, "documents.avsc")
    schema = json.loads(open(path).read())
    assert schema["type"] == "record" and schema["name"]
    names = {f["name"] for f in schema["fields"]}
    assert "text" in names and "doc_id" in names


def test_infer_json_col_and_protobuf(spark, tmp_path):
    out = str(tmp_path / "schemas")
    rc = main(
        ["infer", "--input", SF, "--table", "events", "--json-col", "props",
         "--format", "protobuf", "--output", out]
    )
    # props may not be JSON in the driver's events table; rc 0 means files written
    assert rc == 0
    assert os.path.exists(os.path.join(out, "events.proto"))


def test_validate_tables_exit_codes(spark, capsys):
    assert main(["validate-tables", "--input", SF, "--tables", "events,orders"]) == 0
    assert main(["validate-tables", "--input", SF, "--tables", "events,nope"]) == 1
    out = capsys.readouterr().out
    assert "MISSING nope" in out


def test_list_tables_prefix(spark, capsys):
    assert main(["list-tables", "--input", SF, "--prefix", "li"]) == 0
    assert "lineitem" in capsys.readouterr().out


def test_version(capsys):
    assert main(["version"]) == 0
    assert "schema-infer-spark" in capsys.readouterr().out


def test_infer_register_and_compatibility(spark, tmp_path, capsys):
    from schema_infer_plugin_spark.operators.registry import LocalSchemaRegistry

    out = str(tmp_path / "schemas")
    args = ["infer", "--input", SF, "--table", "documents", "--format", "avro",
            "--output", out, "--register", "--compatibility", "BACKWARD"]
    assert main(args) == 0
    assert main(args) == 0  # same schema re-registers compatibly as v2
    reg = LocalSchemaRegistry(os.path.join(out, "registry"))
    assert reg.get_subject_versions("documents-value") == [1, 2]


def test_sample_rate_numerator_validated(spark, tmp_path):
    import pytest

    out = str(tmp_path / "schemas")
    base = ["infer", "--input", SF, "--table", "documents", "--format", "avro",
            "--output", out]
    # num > den would silently under-sample via lexicographic compare
    with pytest.raises(SystemExit):
        main(base + ["--sample-rate", "300/256"])
    with pytest.raises(SystemExit):
        main(base + ["--sample-rate", "0/16"])
    # num == den means keep everything: allowed, no sampling applied
    assert main(base + ["--sample-rate", "16/16"]) == 0
    assert os.path.exists(os.path.join(out, "documents.avsc"))


def test_register_format_checked_before_any_write(spark, tmp_path):
    import pytest

    out = str(tmp_path / "schemas")
    with pytest.raises(SystemExit):
        main(["infer", "--input", SF, "--tables", "documents,events",
              "--format", "protobuf", "--output", out, "--register"])
    # validation ran before the table loop: no partial output on disk
    assert not os.path.exists(os.path.join(out, "documents.proto"))


def test_compat_and_strategy_validated_before_writes(spark, tmp_path):
    import pytest

    out = str(tmp_path / "schemas")
    # lowercase compatibility is normalized (config parity), not an error
    assert main(
        ["infer", "--input", SF, "--table", "documents", "--format", "avro",
         "--output", out, "--register", "--compatibility", "backward"]
    ) == 0
    # typo'd strategy fails upfront — no schema file may appear
    out2 = str(tmp_path / "schemas2")
    with pytest.raises(SystemExit, match="subject-strategy"):
        main(["infer", "--input", SF, "--tables", "documents,events",
              "--format", "avro", "--output", out2, "--register",
              "--subject-strategy", "RecordNameStrateg"])
    assert not os.path.exists(os.path.join(out2, "documents.avsc"))
    # bogus compatibility level also fails upfront
    with pytest.raises(SystemExit, match="compatibility"):
        main(["infer", "--input", SF, "--table", "documents", "--format", "avro",
              "--output", out2, "--register", "--compatibility", "SIDEWAYS"])


def test_text_col_auto_detects_json(spark, tmp_path, capsys):
    out = str(tmp_path / "schemas")
    rc = main(["infer", "--input", SF, "--table", "events", "--text-col", "props",
               "--format", "avro", "--output", out])
    assert rc == 0
    assert "detected format 'json'" in capsys.readouterr().out
    schema = json.loads(open(os.path.join(out, "events.avsc")).read())
    fields = {f["name"]: f for f in schema["fields"]}
    assert "k" in fields  # props is {"k": N}


def test_auto_infer_rows_csv_kv_raw(spark):
    from schema_infer_plugin_spark.cli import _auto_infer_rows
    from schema_infer_plugin_spark.config import EngineConfig

    cfg = EngineConfig()
    csv = spark.createDataFrame([("1,foo,true",), ("2,bar,false",), ("3,baz,",)], ["m"])
    rows, fmt = _auto_infer_rows(csv, "m", cfg)
    assert fmt == "csv"
    by = {r["column"]: r for r in rows}
    assert by["column_0"]["inferred_type"] == "int"
    assert by["column_1"]["inferred_type"] == "string"
    # pad fills '' for the short row; '' types as string, so column_2 is
    # 2/3 boolean = 0.67 confidence < 0.8 with 2 types -> 'union' (ladder rule)
    assert by["column_2"]["inferred_type"] == "union"

    # NOTE: "a=1, b=x" ALSO matches the reference's csv regex and loses the
    # tie on priority order (json,csv,tsv,kv — detector.py dict order), so a
    # comma-free kv corpus is the unambiguous case
    kv = spark.createDataFrame([("a=1",), ("a=2",), ("b=x",), ("b=y",)], ["m"])
    rows, fmt = _auto_infer_rows(kv, "m", cfg)
    assert fmt == "key-value"
    by = {r["column"]: r for r in rows}
    assert by["a"]["inferred_type"] == "int"
    assert by["b"]["inferred_type"] == "string"

    raw = spark.createDataFrame([("plain text",), ("more words here",)], ["m"])
    rows, fmt = _auto_infer_rows(raw, "m", cfg)
    assert fmt == "raw-text"
    assert {r["column"] for r in rows} == {"raw_content", "message_length", "is_binary"}


def test_cli_dedup_minhash_keep_decision(spark, tmp_path, capsys):
    """`dedup --method minhash` writes pairs/ + decision/; planted copies
    lose to their originals (longer or equal text, smaller id wins ties)."""
    import schema_infer_plugin_spark.cli as cli
    from pyspark.sql import functions as F
    from tests.conftest import SF_SMOKE

    # corpus with planted exact copies under new ids
    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")
    copies = d.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text"
    )
    src = str(tmp_path / "corpus")
    os.makedirs(src)
    d.unionByName(copies).write.parquet(f"{src}/documents.parquet")

    out = str(tmp_path / "dedup_out")
    rc = cli.main(
        ["dedup", "--input", src, "--method", "minhash", "--threshold", "0.9", "--out", out]
    )
    assert rc == 0
    printed = capsys.readouterr().out
    assert "kept=" in printed
    dec = spark.read.parquet(f"{out}/decision")
    kept = {r["doc_id"] for r in dec.filter("keep").collect()}
    dropped = {r["doc_id"] for r in dec.filter("NOT keep").collect()}
    # every planted copy is dropped (its original — same text, smaller id —
    # always outranks it; originals may themselves merge into bigger clusters)
    assert {i + 500000 for i in range(10)} <= dropped
    comp = {r["doc_id"]: r["component"] for r in dec.collect()}
    for i in range(10):
        assert comp[i] == comp[i + 500000]  # copy clusters with its original
    pairs = spark.read.parquet(f"{out}/pairs")
    assert pairs.filter("score >= 0.9").count() == pairs.count() > 0


def test_audit_stale_and_gaps(spark, tmp_path, capsys):
    out = str(tmp_path / "audit")
    # as-of far in the future -> every group stale -> exit 1
    rc = main(
        ["audit", "--input", SF, "--table", "events", "--as-of", "2025-01-01 00:00:00",
         "--max-lag-hours", "24", "--group-col", "event_type",
         "--entropy-cols", "event_type", "--out", out]
    )
    assert rc == 1
    printed = capsys.readouterr().out
    assert "stale=" in printed and "coverage_gaps=" in printed
    assert os.path.exists(os.path.join(out, "freshness"))
    assert os.path.exists(os.path.join(out, "entropy"))


def test_audit_passes_with_generous_sla(spark, tmp_path, capsys):
    out = str(tmp_path / "audit_ok")
    # generous lag + day granularity over the fully-covered January span
    rc = main(
        ["audit", "--input", SF, "--table", "events", "--as-of", "2024-01-31 00:00:00",
         "--max-lag-hours", "8760", "--unit", "day", "--out", out]
    )
    assert rc == 0
    assert "stale=0" in capsys.readouterr().out


def test_validate_tables_accessibility_probe(spark, tmp_path, capsys):
    """Reference validate-topics parity: existence AND accessibility. A table
    whose file exists but whose metadata fetch fails is INACCESSIBLE (exit 1),
    distinct from MISSING — and the probe keeps going past it."""
    import shutil

    inp = tmp_path / "cat"
    inp.mkdir()
    shutil.copy(f"{SF}/orders.parquet", inp / "orders.parquet")
    (inp / "events.parquet").write_bytes(b"not a parquet file at all")
    rc = main(["validate-tables", "--input", str(inp), "--tables", "orders,events,nope"])
    out = capsys.readouterr().out
    assert rc == 1
    assert "OK    orders" in out
    assert "INACCESSIBLE events" in out
    assert "MISSING nope" in out


def test_profile_partial_merge_cli(spark, tmp_path, capsys):
    """profile-partial twice (two 'ingest batches' of the same table),
    profile-merge across the artifacts: counts ADD (2n), min/max combine,
    and the merge never rescans the input."""
    a, b, merged = (str(tmp_path / d) for d in ("pa", "pb", "merged"))
    for run, out in (("a", a), ("b", b)):
        rc = main([
            "profile-partial", "--input", SF, "--table", "documents",
            "--columns", "doc_id,lang,n_chars", "--run-id", run, "--out", out,
        ])
        assert rc == 0
    rc = main(["profile-merge", a, b, "--out", merged])
    assert rc == 0
    printed = capsys.readouterr().out
    assert "doc_id: bigint" in printed and "lang: string" in printed
    got = {r["column"]: r for r in spark.read.parquet(merged).collect()}
    n = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert got["doc_id"]["total_count"] == 2 * n and got["doc_id"]["null_count"] == 0


def test_mix_cli(spark, tmp_path, capsys):
    out = str(tmp_path / "mixture")
    rc = main([
        "mix", "--input", SF, "--table", "documents",
        "--budgets", "src0=200,src1=1000000", "--out", out,
    ])
    assert rc == 0
    printed = capsys.readouterr().out
    assert "src0: docs=" in printed and "src1: docs=" in printed
    sel = spark.read.parquet(out)
    srcs = {r["source"] for r in sel.select("source").distinct().collect()}
    assert srcs == {"src0", "src1"}
    # src1's giant budget takes the whole source
    n1 = spark.read.parquet(f"{SF}/documents.parquet").filter("source = 'src1'").count()
    assert sel.filter("source = 'src1'").count() == n1


def test_mix_cli_rejects_malformed_budgets(spark, tmp_path):
    assert main(["mix", "--input", SF, "--budgets", "src0", "--out", str(tmp_path / "x")]) == 2
    assert main(["mix", "--input", SF, "--budgets", "src0=abc", "--out", str(tmp_path / "x")]) == 2


def test_mix_cli_rejects_negative_budget(spark, tmp_path):
    assert main(["mix", "--input", SF, "--budgets", "src0=-5", "--out", str(tmp_path / "x")]) == 2


def test_vector_sanity_cli(spark, tmp_path):
    """Clean table exits 0; a corrupted copy (one NULL vector) exits 1 and
    writes the violation row + exact stats."""
    out = str(tmp_path / "vs_clean")
    rc = main(["vector-sanity", "--input", SF, "--table", "embeddings",
               "--dim", "64", "--out", out])
    assert rc == 0
    stats = spark.read.parquet(os.path.join(out, "vector_stats")).collect()[0]
    assert stats["n_ok"] == stats["n_rows"] > 0

    bad_dir = str(tmp_path / "tbl")
    from pyspark.sql import functions as F
    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 0, F.lit(None)).otherwise(F.col("embedding")),
    ).write.parquet(os.path.join(bad_dir, "embeddings.parquet"))
    out2 = str(tmp_path / "vs_bad")
    rc = main(["vector-sanity", "--input", bad_dir, "--table", "embeddings",
               "--dim", "64", "--out", out2])
    assert rc == 1
    viol = spark.read.parquet(os.path.join(out2, "vector_violations")).collect()
    assert [(r["check_name"], r["id"]) for r in viol] == [("vec_null", 0)]


def test_profile_diff_cli(spark, tmp_path):
    """profile-diff: drift verdicts from persisted partial artifacts alone —
    identical periods exit 0, a shifted numeric column exits 1 via the
    quantile-shift gate."""
    from pyspark.sql import functions as F

    from schema_infer_plugin_spark.operators.profile import profile_partial

    base_df = spark.range(2_000).select(
        (F.col("id") % 100).cast("double").alias("x"),
        F.concat(F.lit("s"), F.col("id") % 7).alias("s"),
    )
    shifted_df = base_df.withColumn("x", F.col("x") + 1_000.0)
    a = str(tmp_path / "a"); b = str(tmp_path / "b"); c = str(tmp_path / "c")
    profile_partial(base_df, ["x", "s"], run_id="a").write.parquet(a)
    profile_partial(base_df, ["x", "s"], run_id="b").write.parquet(b)
    profile_partial(shifted_df, ["x", "s"], run_id="c").write.parquet(c)

    assert main(["profile-diff", "--current", b, "--baseline", a,
                 "--out", str(tmp_path / "calm")]) == 0
    assert main(["profile-diff", "--current", c, "--baseline", a,
                 "--out", str(tmp_path / "moved")]) == 1
    qd = spark.read.parquet(str(tmp_path / "moved" / "quantile_drift")).collect()
    assert [r["col_name"] for r in qd] == ["x"] and not qd[0]["pass"]


def test_estimate_cli(spark, tmp_path, capsys):
    """estimate: Wilson rate estimates from a deterministic conversation
    sample — full check grid persisted, exit 0 without a gate, exit 1 when
    --fail-above sits below a confidently-exceeded rate, rate validated."""
    import pytest

    from schema_infer_plugin_spark.plans.validate import CHECK_NAMES

    out = str(tmp_path / "est")
    rc = main(["estimate", "--input", "synth:2000", "--rate", "64/256",
               "--out", out])
    assert rc == 0
    rows = {r["check_name"]: r for r in
            spark.read.parquet(os.path.join(out, "estimate")).collect()}
    assert set(rows) == set(CHECK_NAMES)
    assert all(r["n_turns"] > 0 for r in rows.values())
    max_lo = max(r["ci_lo"] for r in rows.values())
    assert max_lo > 0  # synth corpus injects violations; the sample sees some

    rc = main(["estimate", "--input", "synth:2000", "--rate", "64/256",
               "--fail-above", str(max_lo / 2), "--out", str(tmp_path / "e2")])
    assert rc == 1
    assert "FAILED --fail-above" in capsys.readouterr().out

    rc = main(["estimate", "--input", "synth:2000", "--rate", "64/256",
               "--fail-above", "1.0", "--out", str(tmp_path / "e3")])
    assert rc == 0

    # per-conversation gate: the design-consistent unit
    max_conv_lo = max(r["conv_ci_lo"] for r in rows.values())
    assert max_conv_lo > 0
    rc = main(["estimate", "--input", "synth:2000", "--rate", "64/256",
               "--unit", "conv", "--fail-above", str(max_conv_lo / 2),
               "--out", str(tmp_path / "e4")])
    assert rc == 1
    assert "per-conv" in capsys.readouterr().out

    with pytest.raises(SystemExit, match="denominator"):
        main(["estimate", "--input", "synth:100", "--rate", "1/100", "--out", out])
    with pytest.raises(SystemExit, match="numerator"):
        main(["estimate", "--input", "synth:100", "--rate", "256/256", "--out", out])


def test_window_drift_cli(spark, tmp_path, capsys):
    """window-drift: self vs own baseline exits 0 (every window within PSI);
    an assistant-heavy slice drifts every window and exits 1; a freq-only
    baseline (written in the older per-series layout) fails loudly with
    advice to re-run write_histograms."""
    import pytest
    from pyspark.sql import functions as F

    from schema_infer_plugin_spark.plans.runner import write_histograms
    from schema_infer_plugin_spark.sources.synth import synth_transcripts

    t = synth_transcripts(spark, 1_000)
    base_out = str(tmp_path / "base")
    write_histograms(spark, t, base_out, ["role"], numeric_columns=[])
    # synth: is resolved by resolve_transcripts_input — same generator, so
    # the same frame serves as both baseline source and current input
    rc = main(["window-drift", "--input", "synth:1000", "--baseline", base_out,
               "--out", str(tmp_path / "w1")])
    assert rc == 0
    rep = spark.read.parquet(os.path.join(str(tmp_path / "w1"), "window_drift"))
    assert rep.count() > 0 and rep.filter(F.col("chi2").isNull()).count() == 0

    # shifted current: role distribution differs in every window
    shifted_base = str(tmp_path / "shifted_base")
    write_histograms(
        spark,
        t.filter(F.col("role") == "assistant"),
        shifted_base,
        ["role"],
        numeric_columns=[],
    )
    rc = main(["window-drift", "--input", "synth:1000", "--baseline", shifted_base,
               "--out", str(tmp_path / "w2")])
    assert rc == 1
    assert "DRIFTED" in capsys.readouterr().out

    # freq-only baseline rejected
    old = str(tmp_path / "old")
    from schema_infer_plugin_spark.checks.drift import histogram

    histogram(t, "role").coalesce(1).write.parquet(
        os.path.join(old, "histograms", "role")
    )
    with pytest.raises(ValueError, match="per-series layout .*: re-run write_histograms"):
        main(["window-drift", "--input", "synth:1000", "--baseline", old,
              "--out", str(tmp_path / "w3")])


def test_window_drift_numeric_cli(spark, tmp_path, capsys):
    """window-drift --numeric-column: self vs own grid baseline exits 0 at a
    threshold above the per-day sampling variation (a window holding a few
    hundred turns of a 30-day corpus legitimately KS-fluctuates ~0.3 vs the
    global baseline — that's the sample, not drift); a baseline built from a
    low-turn_idx slice (its own tight grid — current data clamps onto it)
    exceeds even that and exits 1 (the +100 shift puts the whole current
    distribution below the baseline grid: everything clamps to the bottom
    edge where the baseline has almost no mass — KS ≈ 1)."""
    from pyspark.sql import functions as F

    from schema_infer_plugin_spark.plans.runner import write_histograms
    from schema_infer_plugin_spark.sources.synth import synth_transcripts

    t = synth_transcripts(spark, 1_000)
    base_out = str(tmp_path / "nbase")
    write_histograms(spark, t, base_out, [], numeric_columns=["turn_idx"])
    rc = main(["window-drift", "--input", "synth:1000", "--baseline", base_out,
               "--numeric-column", "turn_idx", "--ks-threshold", "0.5",
               "--out", str(tmp_path / "n1")])
    assert rc == 0
    rep = spark.read.parquet(os.path.join(str(tmp_path / "n1"), "window_ks"))
    assert rep.count() > 0
    assert rep.filter(F.col("ks_stat").isNull()).count() == 0

    shifted = str(tmp_path / "nshift")
    write_histograms(
        spark,
        t.withColumn("turn_idx", F.col("turn_idx") + 100),
        shifted,
        [],
        numeric_columns=["turn_idx"],
    )
    rc = main(["window-drift", "--input", "synth:1000", "--baseline", shifted,
               "--numeric-column", "turn_idx", "--ks-threshold", "0.5",
               "--out", str(tmp_path / "n2")])
    assert rc == 1
    assert "DRIFTED" in capsys.readouterr().out


def test_window_drift_numeric_missing_baseline(spark, tmp_path):
    """A baseline dir without a drift baseline exits with a clear
    SystemExit on the numeric leg, not a raw AnalysisException — and so on
    the categorical leg."""
    import pytest

    with pytest.raises(SystemExit, match="no numeric baseline"):
        main(["window-drift", "--input", "synth:200",
              "--baseline", str(tmp_path / "nowhere"),
              "--numeric-column", "turn_idx", "--out", str(tmp_path / "o")])
    with pytest.raises(SystemExit, match="no histogram baseline"):
        main(["window-drift", "--input", "synth:200",
              "--baseline", "file://" + str(tmp_path / "nowhere"),
              "--out", str(tmp_path / "o")])


def test_window_drift_uri_baseline(spark, tmp_path):
    """A ``file://`` baseline URI is read like the local path on both legs:
    "missing" is Spark's answer, so any Hadoop filesystem URI works."""
    from schema_infer_plugin_spark.plans.runner import write_histograms
    from schema_infer_plugin_spark.sources.synth import synth_transcripts

    base = str(tmp_path / "base")
    write_histograms(spark, synth_transcripts(spark, 300), base, ["role"], ["turn_idx"])
    for leg, sub in (([], "window_drift"), (["--numeric-column", "turn_idx"], "window_ks")):
        out = str(tmp_path / sub)
        rc = main(["window-drift", "--input", "synth:300", "--baseline", "file://" + base,
                   "--psi-threshold", "10", "--ks-threshold", "1.0", "--out", out, *leg])
        assert rc == 0
        assert spark.read.parquet(os.path.join(out, sub)).count() > 0
