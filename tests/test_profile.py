"""Pass-A profile operator: correctness vs DuckDB aggregates and plan hygiene
(single-pass, no Python eval nodes)."""

from __future__ import annotations

from pyspark.sql import functions as F

from schema_infer_plugin_spark.operators.profile import profile
from tests.conftest import SF_CORRECT


def test_profile_lineitem_stats(spark, duck):
    li = spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
    p = profile(li, columns=["l_quantity", "l_returnflag"], approx_distinct=False)
    rows = {r["column"]: r for r in p.collect()}
    exp = duck.execute(
        """
        SELECT count(*) AS n, count(DISTINCT l_quantity) AS dq,
               CAST(min(l_quantity) AS STRING) AS mn, CAST(max(l_quantity) AS STRING) AS mx,
               count(DISTINCT l_returnflag) AS dr
        FROM lineitem
        """
    ).fetchone()
    q = rows["l_quantity"]
    assert q["total_count"] == exp[0]
    assert q["distinct_approx"] == exp[1]
    assert q["min_val"] == exp[2] and q["max_val"] == exp[3]
    assert q["null_count"] == 0 and q["required"] and not q["nullable"]
    assert rows["l_returnflag"]["distinct_approx"] == exp[4]
    # numeric quantiles present and ordered
    quant = q["quantiles"]
    assert quant is not None and quant[0] <= quant[1] <= quant[2]


def test_profile_partitioned(spark):
    li = spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
    p = profile(li, columns=["l_quantity"], partition_by="l_returnflag", approx_distinct=False)
    keys = {r["partition_key"] for r in p.collect()}
    assert keys == {"A", "N", "R"}


def test_profile_single_pass_plan(spark):
    """The stats profile must be ONE aggregation over ONE full scan; the only
    other subtree allowed is the bounded examples sample (a limit that reads a
    single input split — O(1) at any table size) glued on with a 1-row
    nested-loop join. No shuffle joins, no per-row Python, no unbounded
    collect over the full table (FIXTURES.md §5 plan gate)."""
    li = spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
    for approx in (True, False):
        p = profile(li, columns=list(li.columns), approx_distinct=approx)
        plan = p._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan parquet") <= 2  # full scan + limited examples scan
        assert "Limit" in plan  # the examples scan is bounded
        assert "BatchEvalPython" not in plan
        assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
        # the state aggregation resolves straight to long form: no second
        # (merge) aggregation over its own partial — only the examples agg
        analyzed = p._jdf.queryExecution().analyzed().toString().splitlines()
        aggs = [ln for ln in analyzed if ln.lstrip(" :+-").startswith("Aggregate ")]
        assert len(aggs) == 2, (approx, aggs)


def test_profile_empty_input(spark):
    """Zero input rows: the global profile still has one fully defined row
    per column (0 counts, 0.0 null_rate, no quantiles, no examples); a
    partitioned profile has no partitions, hence no rows."""
    li = spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet").filter(F.lit(False))
    cols = ["l_quantity", "l_returnflag", "l_shipdate"]
    rows = {r["column"]: r for r in profile(li, cols).collect()}
    assert sorted(rows) == sorted(cols)
    for r in rows.values():
        assert r["partition_key"] == "_global_"
        assert r["total_count"] == 0 and r["null_count"] == 0
        assert r["null_rate"] == 0.0 and r["distinct_approx"] == 0
        assert r["quantiles"] is None and r["examples"] == []
        assert r["required"] is True and r["nullable"] is False
    assert profile(li, cols, partition_by="l_linestatus").collect() == []


def test_approx_distinct_close(spark):
    li = spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
    exact = profile(li, columns=["l_partkey"], approx_distinct=False).collect()[0]["distinct_approx"]
    approx = profile(li, columns=["l_partkey"], approx_distinct=True).collect()[0]["distinct_approx"]
    assert abs(approx - exact) / exact < 0.1  # HLL default rsd ≈ 5%


def test_type_histogram_on_string_cols(spark):
    df = spark.createDataFrame(
        [("1", "x"), ("2", "true"), ("a", None)], "c1 string, c2 string"
    )
    p = profile(df, approx_distinct=False)
    rows = {r["column"]: r for r in p.collect()}
    assert rows["c1"]["type_histogram"]["int"] == 2
    assert rows["c1"]["type_histogram"]["string"] == 1
    assert rows["c1"]["inferred_type"] == "union"  # 2/3 < 0.8, two types
    assert rows["c2"]["nullable"] is True


def test_partitioned_examples_cover_every_partition(spark):
    """VERDICT r3 #7: per-partition profiles must carry examples for EVERY
    partition, not just the ones the global head sample happens to hit. The
    adversarial layout: one partition occupies the entire head of the table,
    the other is a single trailing row — a head-sample join would leave the
    rare partition's examples empty."""
    rows = [("common", f"v{i}") for i in range(5_000)] + [("rare", "needle")]
    df = spark.createDataFrame(rows, "grp string, val string").coalesce(1)
    p = profile(df, columns=["val"], partition_by="grp", approx_distinct=False)
    by_part = {r["partition_key"]: r for r in p.collect()}
    assert set(by_part) == {"common", "rare"}
    assert by_part["rare"]["examples"] == ["needle"]
    assert len(by_part["common"]["examples"]) == 5  # n_examples default
    # deterministic: the md5-ranked sample yields identical examples on rerun
    p2 = profile(df, columns=["val"], partition_by="grp", approx_distinct=False)
    again = {r["partition_key"]: r["examples"] for r in p2.collect()}
    assert again == {k: r["examples"] for k, r in by_part.items()}


def test_top_values_exact_and_takeordered_plan(spark, duck):
    """Heavy-hitters: exact counts + deterministic tie-break vs DuckDB, and
    the per-column top-k is a distributed TakeOrderedAndProject (never an
    unpartitioned sort of the distinct-value space)."""
    from schema_infer_plugin_spark.operators.profile import top_values

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    tv = top_values(docs, ["lang", "source"], k=3)
    got = sorted(map(tuple, tv.collect()))
    exp = sorted(
        map(
            tuple,
            duck.execute(
                """
        (SELECT 'lang' AS col_name, lang AS value, CAST(count(*) AS BIGINT) AS cnt,
                CAST(row_number() OVER (ORDER BY count(*) DESC, lang ASC) AS INT) AS rank
         FROM documents WHERE lang IS NOT NULL GROUP BY lang
         ORDER BY cnt DESC, value ASC LIMIT 3)
        UNION ALL
        (SELECT 'source', source, CAST(count(*) AS BIGINT),
                CAST(row_number() OVER (ORDER BY count(*) DESC, source ASC) AS INT)
         FROM documents WHERE source IS NOT NULL GROUP BY source
         ORDER BY 3 DESC, 2 ASC LIMIT 3)
        """
            ).fetchall(),
        )
    )
    assert got == exp and len(got) == 6
    plan = tv._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan
    import pytest

    with pytest.raises(ValueError, match="non-empty"):
        top_values(docs, [])


def test_top_values_partitioned(spark, duck):
    """Per-group heavy hitters (top sources per lang): window partitioned on
    the group key (bounded by one group's distinct values), exact counts and
    deterministic tie-break vs DuckDB."""
    from schema_infer_plugin_spark.operators.profile import top_values
    import pytest

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    tv = top_values(docs, ["source"], k=2, partition_by="lang")
    got = sorted(map(tuple, tv.collect()))
    exp = sorted(
        map(
            tuple,
            duck.execute(
                """
        SELECT 'source' AS col_name, lang AS partition_key, source AS value,
               CAST(cnt AS BIGINT) AS cnt, CAST(rnk AS INT) AS rank
        FROM (
          SELECT lang, source, count(*) AS cnt,
                 row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, source ASC) AS rnk
          FROM documents WHERE source IS NOT NULL GROUP BY lang, source)
        WHERE rnk <= 2
        """
            ).fetchall(),
        )
    )
    assert got == exp and len(got) > 0
    with pytest.raises(ValueError, match="cannot also be ranked"):
        top_values(docs, ["lang"], partition_by="lang")
