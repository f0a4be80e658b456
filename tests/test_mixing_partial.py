"""Token-budget mixing (datapipe/mixing.py) and mergeable partial profiles
(operators/profile.py): DuckDB value parity, merge==direct identity,
determinism under repartitioning, and artifact round-trips."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from schema_infer_plugin_spark.datapipe.mixing import mix_token_budget
from schema_infer_plugin_spark.operators.profile import (
    profile,
    profile_merge,
    profile_partial,
)
from tests.conftest import SF_CORRECT, SF_SMOKE

BUDGETS = {"src0": 700, "src1": 400, "src2": 1_000_000}


def _mix_sql(budgets, n_shards=64):
    case = " ".join(f"WHEN source = '{s}' THEN {b}" for s, b in budgets.items())
    return f"""
WITH base AS (
  SELECT doc_id, source,
         CAST(CAST(concat('0x', substr(md5(concat('0:', doc_id)), 1, 15)) AS BIGINT) % {n_shards} AS INT) AS shard,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens
  FROM documents
  WHERE source IN ({", ".join(f"'{s}'" for s in budgets)})),
cum AS (
  SELECT doc_id, source, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY shard, doc_id NULLS FIRST
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
  FROM base)
SELECT doc_id, source, n_tokens, cum_tokens FROM cum
WHERE cum_tokens - n_tokens < (CASE {case} END)
"""


def test_mix_matches_duckdb_running_sum(spark, duck):
    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    got = sorted(
        map(tuple, mix_token_budget(docs, BUDGETS, text_col="text").collect())
    )
    exp = sorted(map(tuple, duck.execute(_mix_sql(BUDGETS)).fetchall()))
    assert got == exp and len(got) > 0


def test_mix_budget_semantics(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    from schema_infer_plugin_spark.functions.textstats import ws_token_count

    total_src0 = (
        docs.filter(F.col("source") == "src0")
        .select(F.sum(ws_token_count(F.col("text"))))
        .collect()[0][0]
    )
    # budget >= source total selects the whole source, exactly once each
    all_src0 = mix_token_budget(docs, {"src0": 10**12}, text_col="text")
    n_src0 = docs.filter(F.col("source") == "src0").count()
    rows = all_src0.collect()
    assert len(rows) == n_src0 == len({r["doc_id"] for r in rows})
    assert max(r["cum_tokens"] for r in rows) == total_src0
    # a tiny budget still selects >= 1 doc, and only the straddler overshoots
    one = mix_token_budget(docs, {"src0": 1}, text_col="text").collect()
    assert len(one) == 1 and one[0]["cum_tokens"] == one[0]["n_tokens"]
    # selected token mass stays within budget + one straddling document
    sel = mix_token_budget(docs, {"src0": 5_000}, text_col="text").collect()
    overshoot = max(r["cum_tokens"] for r in sel) - 5_000
    assert 0 <= len(sel) and overshoot < max(r["n_tokens"] for r in sel)


def test_mix_partition_invariant(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    a = sorted(map(tuple, mix_token_budget(docs, BUDGETS, text_col="text").collect()))
    b = sorted(
        map(
            tuple,
            mix_token_budget(docs.repartition(17), BUDGETS, text_col="text").collect(),
        )
    )
    assert a == b


def test_mix_input_guards(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    with pytest.raises(ValueError, match="n_tokens_col or text_col"):
        mix_token_budget(docs, BUDGETS)
    with pytest.raises(ValueError, match="non-empty"):
        mix_token_budget(docs, {}, text_col="text")
    with pytest.raises(ValueError, match=">= 0"):
        mix_token_budget(docs, {"src0": -1}, text_col="text")


def test_partial_merge_equals_direct_profile_state(spark, duck):
    li = spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
    cols = ["l_quantity", "l_returnflag", "l_shipdate"]
    halves = [
        profile_partial(li.filter(F.col("l_orderkey") % 2 == i), cols, run_id=f"h{i}")
        for i in (0, 1)
    ]
    merged = {
        r["column"]: r
        for r in profile_merge(halves[0].unionByName(halves[1])).collect()
    }
    exp = duck.execute(
        """
        SELECT count(*), count(DISTINCT l_quantity),
               CAST(min(l_quantity) AS STRING), CAST(max(l_quantity) AS STRING),
               count(DISTINCT l_returnflag), CAST(min(l_shipdate) AS STRING)
        FROM lineitem
        """
    ).fetchone()
    q = merged["l_quantity"]
    assert q["total_count"] == exp[0]
    assert q["min_val"] == exp[2] and q["max_val"] == exp[3]
    assert q["null_count"] == 0 and q["required"] and not q["nullable"]
    # HLL union estimates: within 5% of exact on both cardinality regimes
    assert abs(q["distinct_approx"] - exp[1]) <= max(1, 0.05 * exp[1])
    assert merged["l_returnflag"]["distinct_approx"] == exp[4]
    assert merged["l_shipdate"]["min_val"] == exp[5]
    # one state definition, one answer: profile() resolves the same state
    # without the merge — exact fields equal, estimates within sketch error
    direct = {r["column"]: r for r in profile(li, cols).collect()}
    exact = (
        "total_count", "null_count", "null_rate", "min_val", "max_val",
        "type_histogram", "inferred_type", "confidence", "required", "nullable",
    )
    for c in cols:
        for k in exact:
            assert direct[c][k] == merged[c][k], (c, k)
        assert abs(direct[c]["distinct_approx"] - merged[c]["distinct_approx"]) <= max(
            1, 0.02 * merged[c]["distinct_approx"]
        )
        dq, mq = direct[c]["quantiles"], merged[c]["quantiles"]
        assert (dq is None) == (mq is None) == (c != "l_quantity")
    # KLL bounds RANK error: each estimate's true rank interval in the data
    # must cover the requested rank within 5%
    for qs in (direct["l_quantity"]["quantiles"], merged["l_quantity"]["quantiles"]):
        for p, est in zip((0.25, 0.5, 0.75), qs):
            lo, hi = duck.execute(
                "SELECT avg(CAST(l_quantity < ? AS INT)), avg(CAST(l_quantity <= ? AS INT))"
                " FROM lineitem",
                [est, est],
            ).fetchone()
            assert lo - 0.05 <= p <= hi + 0.05, (p, est, lo, hi)


def test_partial_parquet_roundtrip_and_incremental_merge(spark, tmp_path):
    """The artifact path: persist per-run partials, read ALL of them back,
    merge — identical to merging in memory, and the 2-run merge equals a
    direct partial over the union of inputs (state-level mergeability)."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    cols = ["doc_id", "lang", "n_chars"]
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    for name, part in (("a", a), ("b", b)):
        profile_partial(part, cols, run_id=name).write.parquet(
            str(tmp_path / name)
        )
    loaded = spark.read.parquet(str(tmp_path / "a")).unionByName(
        spark.read.parquet(str(tmp_path / "b"))
    )
    # type_histogram is a map (unorderable in tuples); distinct_approx is an
    # estimate whose estimator differs between a fresh sketch (HIP) and a
    # union (composite); quantiles are KLL estimates (merging halves is not
    # bit-identical to sketching the whole) — exact-equal on everything
    # else, close on the estimates
    got = {r["column"]: r for r in profile_merge(loaded).collect()}
    direct = {
        r["column"]: r for r in profile_merge(profile_partial(docs, cols)).collect()
    }
    skip = {"run_id", "type_histogram", "distinct_approx", "quantiles"}
    for c in cols:
        for k in got[c].asDict():
            if k not in skip:
                assert got[c][k] == direct[c][k], (c, k)
        assert abs(got[c]["distinct_approx"] - direct[c]["distinct_approx"]) <= max(
            1, 0.02 * direct[c]["distinct_approx"]
        )
    # numeric quantiles survive the parquet round trip; string cols are NULL
    assert got["n_chars"]["quantiles"] is not None
    assert got["lang"]["quantiles"] is None
    for gq, dq in zip(got["n_chars"]["quantiles"], direct["n_chars"]["quantiles"]):
        assert abs(gq - dq) <= 0.1 * max(abs(dq), 1.0)


def test_partial_merge_guards(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    with pytest.raises(ValueError, match="no __total"):
        profile_merge(docs.select("doc_id"))
    p = profile_partial(docs, ["doc_id", "lang"])
    with pytest.raises(ValueError, match="missing"):
        profile_merge(p.drop("lang__hll"))


def test_partial_merge_over_empty_inputs(spark):
    """Merging partials built over EMPTY inputs (ADVICE r4): null_rate must be
    an explicit 0.0, never NULL (0/0), and the verdict fields stay defined."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    empty = profile_partial(docs.filter(F.lit(False)), ["doc_id", "lang"])
    merged = {r["column"]: r for r in profile_merge(empty.unionByName(empty)).collect()}
    for c in ("doc_id", "lang"):
        r = merged[c]
        assert r["total_count"] == 0 and r["null_count"] == 0
        assert r["null_rate"] == 0.0, "empty merge must not emit NULL null_rate"
        assert r["required"] is True and r["nullable"] is False
    # empty KLL sketch -> NULL quantiles (get_quantile on it would raise)
    assert merged["doc_id"]["quantiles"] is None


def test_partial_merge_quantiles_within_kll_rank_error(spark, duck):
    """VERDICT r4 #7: merged KLL quantiles answer 'quantiles of the last 90
    days' without rescans. Error bound: the exact RANK of each estimated
    quantile must sit within the sketch's two-sided normalized rank error
    (~1.65% at k=200; asserted at a lenient 4%) of the requested rank —
    checked on a 4-way partial split of lineitem.l_quantity."""
    li = spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
    parts = [
        profile_partial(li.filter(F.col("l_orderkey") % 4 == i), ["l_quantity"],
                        run_id=f"q{i}")
        for i in range(4)
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    merged = profile_merge(u).collect()[0]
    qs = merged["quantiles"]
    assert qs is not None and len(qs) == 3
    n = duck.execute("SELECT count(*) FROM lineitem").fetchone()[0]
    for target, est in zip((0.25, 0.5, 0.75), qs):
        rank = duck.execute(
            "SELECT count(*) FROM lineitem WHERE l_quantity <= ?", [est]
        ).fetchone()[0] / n
        assert abs(rank - target) <= 0.04, (target, est, rank)


def test_partial_single_pass_plan(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = profile_partial(docs, ["doc_id", "lang"])._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    # one scan, partial->final agg: exactly one exchange
    assert plan.count("Exchange") == 1


def test_mix_plan_broadcasts_offsets(spark):
    """The shard-offset roll-up frame (n_sources x n_shards rows) must join
    back as a broadcast — a sort-merge join here would shuffle the corpus a
    second time for driver-scale data."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = (
        mix_token_budget(docs, BUDGETS, text_col="text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "CartesianProduct" not in plan


def test_partial_partitioned_merge_matches_duckdb(spark, duck):
    """Partition-keyed partials (one state row per partition value per run)
    merge per key: counts/min/max vs DuckDB GROUP BY, and the two-run merge
    sums exactly."""
    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    halves = [
        profile_partial(
            docs.filter(F.col("doc_id") % 2 == i),
            ["doc_id", "n_chars"],
            run_id=f"h{i}",
            partition_by="lang",
        )
        for i in (0, 1)
    ]
    merged = profile_merge(halves[0].unionByName(halves[1]))
    got = {
        (r["partition_key"], r["column"]): r
        for r in merged.collect()
    }
    exp = duck.execute(
        """
        SELECT lang, count(*), CAST(min(n_chars) AS STRING), CAST(max(n_chars) AS STRING)
        FROM documents GROUP BY lang
        """
    ).fetchall()
    assert len(exp) > 1
    for lang, n, mn, mx in exp:
        r = got[(lang, "n_chars")]
        assert r["total_count"] == n and r["min_val"] == mn and r["max_val"] == mx
        assert got[(lang, "doc_id")]["total_count"] == n
    # guards: partition col can't be profiled; two key columns rejected
    with pytest.raises(ValueError, match="cannot also be profiled"):
        profile_partial(docs, ["lang"], partition_by="lang")
    with pytest.raises(ValueError, match="at most one partition"):
        profile_merge(halves[0].withColumn("extra_key", F.lit("x")))


def test_partial_partition_name_and_lgk_guards(spark):
    """Review fixes: '__'-named partition columns are rejected at build time
    (merge would misread them as state and silently collapse partitions);
    partials built with different lg_k raise at merge instead of silently
    degrading the union estimate."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    with pytest.raises(ValueError, match="must not contain '__'"):
        profile_partial(
            docs.withColumnRenamed("lang", "lang__x"),
            ["doc_id"],
            partition_by="lang__x",
        )
    a = profile_partial(docs, ["doc_id"], run_id="a", lg_k=12)
    b = profile_partial(docs, ["doc_id"], run_id="b", lg_k=4)
    with pytest.raises(Exception, match="(?i)lgconfigk|sketch"):
        profile_merge(a.unionByName(b)).collect()


def test_profile_compare_over_merged_partials(spark):
    """Composition contract: plans/compare.profile_compare consumes the
    exact columns profile_merge emits — schema-drift verdicts between two
    periods from persisted artifacts alone, zero input rescans."""
    from schema_infer_plugin_spark.plans.compare import profile_compare

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    base = profile_merge(
        profile_partial(docs, ["doc_id", "lang", "n_chars"]), run_id="base"
    )
    # current period: lang goes partially null (implicit NOT NULL broken),
    # n_chars no longer profiled (column removed from the contract)
    cur_docs = docs.withColumn(
        "lang", F.when(F.col("doc_id") % 10 == 0, None).otherwise(F.col("lang"))
    )
    cur = profile_merge(profile_partial(cur_docs, ["doc_id", "lang"]), run_id="cur")
    v = {r["col_name"]: r for r in profile_compare(cur, base).collect()}
    assert v["doc_id"]["verdict"] == "OK" and v["doc_id"]["status"] == "common"
    assert v["lang"]["verdict"] == "BREAKING"  # zero-null baseline grew nulls
    assert v["n_chars"]["status"] == "removed" and v["n_chars"]["verdict"] == "BREAKING"


def test_mix_temperature_quotas_and_determinism(spark):
    """alpha=1 reproduces natural proportions; alpha<1 lifts small sources'
    share monotonically; quotas cap at the source size; selection is the
    same deterministic (md5-shard, id) prefix at any input partitioning."""
    from schema_infer_plugin_spark.datapipe.mixing import mix_temperature_sample

    rows = [(i, "big" if i < 400 else "small") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    def shares(alpha, total=100):
        got = (
            mix_temperature_sample(df, alpha, total)
            .groupBy("source").count().collect()
        )
        return {r["source"]: r["count"] for r in got}

    nat = shares(1.0)
    assert nat == {"big": 80, "small": 20}  # 400:100 at alpha=1
    cool = shares(0.5)
    assert cool["small"] > 20 and cool["big"] < 80
    assert sum(cool.values()) in (99, 100, 101)  # rounding slack only

    # quota caps at n_i: a huge budget selects whole sources, never more
    capped = shares(0.5, total=10_000)
    assert capped == {"big": 400, "small": 100}

    # partition-invariant selection set
    a = {tuple(r) for r in mix_temperature_sample(df, 0.5, 100).collect()}
    b = {
        tuple(r)
        for r in mix_temperature_sample(df.repartition(13), 0.5, 100).collect()
    }
    assert a == b and len(a) == sum(cool.values())

    import pytest

    with pytest.raises(ValueError, match="alpha"):
        mix_temperature_sample(df, 0.0, 100)
    with pytest.raises(ValueError, match="total_docs"):
        mix_temperature_sample(df, 0.5, -1)
    with pytest.raises(ValueError, match="non-null"):
        mix_temperature_sample(
            df.withColumn("source", F.lit(None).cast("string")), 0.5, 10
        )

    # EMPTY input is not a data error: selection over nothing is an empty
    # selection with the contract schema (all-NULL sources above still raise)
    empty = mix_temperature_sample(df.limit(0), 0.5, 10)
    assert empty.columns == ["doc_id", "source", "sel_rank"]
    assert empty.count() == 0


def test_quantile_drift_from_merged_partials(spark):
    """plans/compare.quantile_drift_verdicts: numeric-shift verdicts from two
    profile_merge outputs alone (zero rescans) — a large shift fails, an
    identical period passes, non-numeric columns are excluded."""
    from schema_infer_plugin_spark.plans.compare import quantile_drift_verdicts

    base_df = spark.range(2_000).select(
        F.col("id").alias("rid"),
        (F.col("id") % 100).cast("double").alias("x"),
        F.concat(F.lit("s"), F.col("id") % 7).alias("s"),
    )
    shifted_df = base_df.withColumn("x", F.col("x") + 1_000.0)

    cols = ["x", "s"]
    base = profile_merge(profile_partial(base_df, cols, run_id="base"))
    same = profile_merge(profile_partial(base_df, cols, run_id="same"))
    cur = profile_merge(profile_partial(shifted_df, cols, run_id="cur"))

    moved = {r["col_name"]: r for r in quantile_drift_verdicts(cur, base).collect()}
    assert set(moved) == {"x"}  # string column has NULL quantiles -> excluded
    assert moved["x"]["pass"] is False and moved["x"]["max_shift"] > 1.0

    calm = {r["col_name"]: r for r in quantile_drift_verdicts(same, base).collect()}
    # same data, same sketch inputs -> estimates well under the threshold
    assert calm["x"]["pass"] is True and calm["x"]["max_shift"] < 0.25

    import pytest as _pytest

    with _pytest.raises(ValueError):
        quantile_drift_verdicts(cur, base, shift_threshold=0.0)
