"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship validation pass on sf0.001;
``queries()`` exposes one callable per implemented operator (SURVEY.md §2);
``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL for each.

Correctness spine: ``sources/views.py`` defines ONE SQL text that derives a
violation-injected transcripts table from the driver's ``events`` table; Spark
executes it via temp view, DuckDB executes the identical text — so every
constraint check is verified end-to-end against an independent engine.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from schema_infer_plugin_spark.checks import (
    drift_compare,
    drift_counts,
    drift_terms,
    windowed_counts,
)
from schema_infer_plugin_spark.operators.profile import profile, type_profile
from schema_infer_plugin_spark.operators.violations import union_violations
from schema_infer_plugin_spark.schema import ROLE_DOMAIN, TOOL_DOMAIN
from schema_infer_plugin_spark.sources.io import load_table
from schema_infer_plugin_spark.plans.validate import CHECK_NAMES
from schema_infer_plugin_spark.sources.views import (
    TRANSCRIPTS_FROM_EVENTS_SQL,
    oracle_cte,
    transcripts_from_events,
)

SF0001 = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return transcripts_from_events(spark, load_table(spark, sf_dir, "events"))


def _psi_terms(d: DataFrame, *keys, tail=()) -> DataFrame:
    """checks/drift.drift_terms' bucket, frequency and PSI/KL/JS columns as
    every drift oracle rounds them, between ``keys`` and ``tail``. ``+ 0.0``
    after rounding: IEEE says 0.0 * ln(x) = -0.0, and the two engines
    disagree on whether round() keeps the sign; adding +0.0 canonicalizes
    negative zero on BOTH sides (the float-oracle invariant)."""
    z = F.lit(0.0)
    return d.select(
        *keys,
        "bucket",
        F.round("freq_base", 6).cast("double").alias("freq_base"),
        F.round("freq_cur", 6).cast("double").alias("freq_cur"),
        (F.round("psi_term", 6) + z).cast("double").alias("psi_term"),
        (F.round("kl_term", 6) + z).cast("double").alias("kl_term"),
        (F.round("js_term", 6) + z).cast("double").alias("js_term"),
        *tail,
    )


def _viol(df: DataFrame) -> DataFrame:
    """Project check output to oracle-friendly column names ('column' is a
    reserved word in DuckDB)."""
    return df.withColumnRenamed("column", "col_name")


def _replay_stream(
    spark: SparkSession, staged: DataFrame, build: Callable[[DataFrame], DataFrame]
) -> DataFrame:
    """``build``'s append output over ``staged`` replayed as a Structured
    Streaming source (one availableNow run over parquet). The staged input,
    the sink's output and its checkpoint share one temp dir, removed before
    this returns: the output is read into an eager local checkpoint first,
    so the returned frame (and any frame derived from it) needs no file."""
    import os
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="stream_replay_")
    try:
        in_dir, out_dir, ckpt = (os.path.join(work, d) for d in ("in", "out", "ckpt"))
        staged.write.parquet(in_dir)
        stream = spark.readStream.schema(staged.schema).parquet(in_dir)
        q = (
            build(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out_dir).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _fused(spark: SparkSession, sf_dir: str, *checks: str, rules=None) -> DataFrame:
    """The fused validation plan's rows for ``checks`` (plans/validate.py;
    ``rules`` default to the built-ins) — every per-check violation query
    reads the ONE rule engine; its oracle SQL is the independent witness."""
    from schema_infer_plugin_spark.plans.validate import validate_transcripts

    viol = validate_transcripts(_transcripts(spark, sf_dir), rules)
    return _viol(viol.filter(F.col("check_name").isin(*checks)))


_INT_RE = "^[+-]?[0-9]+$"

# Python float() grammar — mirrors functions/typeladder.FLOAT_RE. The oracle
# must NOT use TRY_CAST(.. AS DOUBLE): Java/Spark cast accepts trailing D/d/F/f
# suffixes ('0D', '1f') that the reference's Python float() rejects → string.
# Both numeric rungs test trim(v): Python int()/float() strip surrounding
# whitespace (padded values reach the reference ladder via the KV quote path).
_FLOAT_RE = "^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$"


def _duck_type_profile_sql(source_sql: str, cols: list[str]) -> str:
    """DuckDB SQL reproducing operators/profile.type_profile for ``cols`` of
    ``source_sql`` — the reference type ladder (bool→int→float→string),
    plurality + 0.8-union rule, nullable/required thresholds."""
    parts = []
    for c in cols:
        v = c
        t = (
            f"CASE WHEN {v} IS NULL THEN 'null' "
            f"WHEN lower({v}) IN ('true','false') THEN 'boolean' "
            f"WHEN regexp_matches(trim({v}), '{_INT_RE}') THEN 'int' "
            f"WHEN regexp_matches(trim({v}), '{_FLOAT_RE}') THEN 'float' "
            f"ELSE 'string' END"
        )
        parts.append(
            f"""
SELECT '{c}' AS col_name, inferred_type, CAST(round(confidence, 6) AS DOUBLE) AS confidence,
       nullable, required, cnt_boolean, cnt_int, cnt_float, cnt_string, total_count, null_count
FROM (
  SELECT
    CASE WHEN total_count - null_count = 0 THEN 'string'
         WHEN CAST(mx AS DOUBLE) / (total_count - null_count) < 0.8 AND n_types > 1 THEN 'union'
         WHEN cnt_boolean = mx THEN 'boolean' WHEN cnt_int = mx THEN 'int'
         WHEN cnt_float = mx THEN 'float' ELSE 'string' END AS inferred_type,
    CASE WHEN total_count - null_count = 0 THEN NULL
         ELSE CAST(mx AS DOUBLE) / (total_count - null_count) END AS confidence,
    null_count > 0 AS nullable,
    (null_count = 0 OR CAST(null_count AS DOUBLE) / total_count < 0.1) AS required,
    cnt_boolean, cnt_int, cnt_float, cnt_string, total_count, null_count
  FROM (
    SELECT *, greatest(cnt_boolean, cnt_int, cnt_float, cnt_string) AS mx,
           (CASE WHEN cnt_boolean > 0 THEN 1 ELSE 0 END + CASE WHEN cnt_int > 0 THEN 1 ELSE 0 END
            + CASE WHEN cnt_float > 0 THEN 1 ELSE 0 END + CASE WHEN cnt_string > 0 THEN 1 ELSE 0 END) AS n_types
    FROM (
      SELECT
        CAST(sum(CASE WHEN typ = 'boolean' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_boolean,
        CAST(sum(CASE WHEN typ = 'int' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_int,
        CAST(sum(CASE WHEN typ = 'float' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_float,
        CAST(sum(CASE WHEN typ = 'string' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_string,
        CAST(count(*) AS BIGINT) AS total_count,
        CAST(sum(CASE WHEN typ = 'null' THEN 1 ELSE 0 END) AS BIGINT) AS null_count
      FROM (SELECT {t} AS typ FROM ({source_sql}))
    )
  )
)"""
        )
    return " UNION ALL ".join(parts)


# ---------------------------------------------------------------------------
# transcripts constraint checks (engine vs identical-CTE oracle)
# ---------------------------------------------------------------------------


def q_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fused(spark, sf_dir, "uniqueness")


ORACLE_UNIQUENESS = oracle_cte(
    """
SELECT 'uniqueness' AS check_name, conv_id, turn_idx, 'conv_id,turn_idx' AS col_name,
       CAST(count(*) AS STRING) AS observed, '1' AS expected
FROM transcripts WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL
GROUP BY conv_id, turn_idx HAVING count(*) > 1
"""
)


def q_infer_role_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain inference (checks/domains.infer_domain): suggest the role
    domain from the data — most-frequent values until 95% cumulative
    coverage; the fixture's injected 'moderator' (error events) lands
    outside. Hash agg + TakeOrdered, no global window."""
    from schema_infer_plugin_spark.checks import infer_domain

    return infer_domain(_transcripts(spark, sf_dir), "role", coverage=0.95, max_values=10)


ORACLE_INFER_DOMAIN = oracle_cte(
    """
SELECT value, cnt,
       CAST(round(share, 6) AS DOUBLE) AS share,
       CAST(round(cum, 6) AS DOUBLE) AS cum_share,
       (cum - share) < 0.95 AS in_domain
FROM (
  SELECT value, cnt,
         CAST(cnt AS DOUBLE) / t AS share,
         CAST(sum(cnt) OVER (ORDER BY cnt DESC, value ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / t
           AS cum
  FROM (
    SELECT CAST(role AS STRING) AS value, CAST(count(*) AS BIGINT) AS cnt
    FROM transcripts WHERE role IS NOT NULL GROUP BY role
    ORDER BY cnt DESC, value ASC LIMIT 10
  ), (SELECT count(*) AS t FROM transcripts WHERE role IS NOT NULL)
)
"""
)


def q_fd_role(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency check (checks/fd.py): (conv_id, turn_idx) → role.
    The fixture's collapsed duplicate turns (views.py: event_id % 101) map one
    key to two roles — exactly the whole-table constraint the reference's
    per-record validators cannot see. One hash agg, output ∝ violations."""
    from schema_infer_plugin_spark.checks import fd_violations

    return fd_violations(_transcripts(spark, sf_dir), ["conv_id", "turn_idx"], "role")


ORACLE_FD_ROLE = oracle_cte(
    """
SELECT conv_id, turn_idx,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT role) AS BIGINT) AS n_values,
       min(role) AS role_min, max(role) AS role_max
FROM transcripts GROUP BY conv_id, turn_idx HAVING count(DISTINCT role) > 1
"""
)


def q_contiguity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fused(spark, sf_dir, "contiguity", "contiguity_start")


ORACLE_CONTIGUITY = oracle_cte(
    """
, idx AS (SELECT DISTINCT conv_id, turn_idx FROM transcripts
         WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL),
lagged AS (
  SELECT conv_id, turn_idx,
         lag(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx NULLS FIRST) AS prev_idx
  FROM idx)
SELECT 'contiguity' AS check_name, conv_id, turn_idx, 'turn_idx' AS col_name,
       CAST(turn_idx AS STRING) AS observed, CAST(prev_idx + 1 AS STRING) AS expected
FROM lagged WHERE prev_idx IS NOT NULL AND turn_idx != prev_idx + 1
UNION ALL
SELECT 'contiguity_start', conv_id, turn_idx, 'turn_idx',
       CAST(turn_idx AS STRING), '0'
FROM lagged WHERE prev_idx IS NULL AND turn_idx != 0
"""
)


def q_role_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fused(spark, sf_dir, "domain_role")


ORACLE_ROLE_DOMAIN = oracle_cte(
    f"""
SELECT 'domain_role' AS check_name, conv_id, turn_idx, 'role' AS col_name,
       role AS observed, '{",".join(ROLE_DOMAIN)}' AS expected
FROM transcripts WHERE role IS NOT NULL AND role NOT IN ({",".join(repr(r) for r in ROLE_DOMAIN)})
"""
)


def q_tool_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fused(spark, sf_dir, "domain_tool")


ORACLE_TOOL_DOMAIN = oracle_cte(
    f"""
SELECT 'domain_tool' AS check_name, conv_id, turn_idx, 'tool' AS col_name,
       tool AS observed, '{",".join(TOOL_DOMAIN)}' AS expected
FROM transcripts WHERE tool IS NOT NULL AND tool NOT IN ({",".join(repr(t) for t in TOOL_DOMAIN)})
"""
)


def q_tool_without_role(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fused(spark, sf_dir, "tool_without_role")


ORACLE_TOOL_WITHOUT_ROLE = oracle_cte(
    """
SELECT 'tool_without_role' AS check_name, conv_id, turn_idx, 'tool' AS col_name,
       tool AS observed, 'NULL unless role=tool' AS expected
FROM transcripts WHERE tool IS NOT NULL AND coalesce(role, '') != 'tool'
"""
)


def q_role_alternation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from schema_infer_plugin_spark.checks import alternation_rules

    return _fused(spark, sf_dir, "role_alternation", rules=alternation_rules())


ORACLE_ROLE_ALTERNATION = oracle_cte(
    """
SELECT 'role_alternation' AS check_name, conv_id, turn_idx, 'role' AS col_name,
       role AS observed, concat('!= ', prev_role) AS expected
FROM (
  SELECT conv_id, turn_idx, role,
         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx ASC NULLS FIRST, ts ASC NULLS FIRST,
                         role ASC NULLS FIRST) AS prev_role
  FROM transcripts WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL)
WHERE role IS NOT NULL AND prev_role IS NOT NULL AND role = prev_role AND role != 'tool'
"""
)


def q_role_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-turn (prev_role → role) transition counts + rates — the
    distributional profile the alternation check is the violation slice of
    (checks/alternation.role_transition_matrix)."""
    from schema_infer_plugin_spark.checks import role_transition_matrix

    return role_transition_matrix(_transcripts(spark, sf_dir))


ORACLE_ROLE_TRANSITION = oracle_cte(
    """
SELECT prev_role, role, n, CAST(round(n * 1.0 / sum(n) OVER (), 6) AS DOUBLE) AS rate
FROM (
  SELECT prev_role, role, CAST(count(*) AS BIGINT) AS n
  FROM (
    SELECT role,
           lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx ASC NULLS FIRST,
                           ts ASC NULLS FIRST, role ASC NULLS FIRST) AS prev_role
    FROM transcripts WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL)
  GROUP BY prev_role, role)
"""
)


def q_transcripts_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-role Pearson correlation of (turn_idx, length(text)) from exact
    DECIMAL(38,0) sufficient statistics (checks/correlation.grouped_int_corr)
    — the joint-structure drift signal no marginal histogram can see. One
    hash aggregation, shuffle ∝ roles; the fixed double formula over exact
    integer sums is bit-identical across engines."""
    from schema_infer_plugin_spark.checks import grouped_int_corr

    return grouped_int_corr(
        _transcripts(spark, sf_dir),
        F.col("turn_idx"),
        F.length("text"),
        group_by="role",
    )


ORACLE_TRANSCRIPTS_CORR = oracle_cte(
    """
SELECT grp, n_rows,
       CASE WHEN denx > 0 AND deny > 0
            THEN CAST(round(num / (sqrt(denx) * sqrt(deny)), 6) + 0.0 AS DOUBLE)
            END AS corr_xy,
       CAST(round(num / (n * n), 6) + 0.0 AS DOUBLE) AS cov_xy
FROM (
  SELECT grp, n_rows, CAST(n_rows AS DOUBLE) AS n,
         CAST(n_rows AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
         CAST(n_rows AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS denx,
         CAST(n_rows AS DOUBLE) * CAST(syy AS DOUBLE)
           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny
  FROM (
    SELECT role AS grp, CAST(count(*) AS BIGINT) AS n_rows,
           sum(CAST(x AS DECIMAL(19,0))) AS sx,
           sum(CAST(y AS DECIMAL(19,0))) AS sy,
           sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sxy,
           sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx,
           sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS syy
    FROM (SELECT role, turn_idx AS x, length(text) AS y FROM transcripts)
    WHERE x IS NOT NULL AND y IS NOT NULL
    GROUP BY role)
)
"""
)


def q_conv_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation boundary-role validation (checks/boundaries.py): convs
    opening outside {user,system} or closing outside {assistant,tool} — the
    lost-prompt / dangling-question defects no per-turn check can see. Two
    conversation rules of the fused plan: one conv_id window exchange (zero
    on a bucketed table), first/last flags by lag/lead in schema.conv_order."""
    from schema_infer_plugin_spark.checks import boundary_rules

    return _fused(
        spark, sf_dir, "conv_start_role", "conv_end_role", rules=boundary_rules()
    )


ORACLE_CONV_BOUNDARIES = oracle_cte(
    """
, marked AS (
  SELECT conv_id, turn_idx, role,
         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx ASC NULLS FIRST,
                            ts ASC NULLS FIRST, role ASC NULLS FIRST) AS rn_first,
         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx DESC NULLS LAST,
                            ts DESC NULLS LAST, role DESC NULLS LAST) AS rn_last
  FROM transcripts WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL)
SELECT 'conv_start_role' AS check_name, conv_id, turn_idx, 'role' AS col_name,
       coalesce(role, 'NULL') AS observed, 'in {system,user}' AS expected
FROM marked
WHERE rn_first = 1 AND NOT coalesce(role IN ('user', 'system'), FALSE)
UNION ALL
SELECT 'conv_end_role', conv_id, turn_idx, 'role',
       coalesce(role, 'NULL'), 'in {assistant,tool}'
FROM marked
WHERE rn_last = 1 AND NOT coalesce(role IN ('assistant', 'tool'), FALSE)
"""
)


def q_role_transition_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-structure drift (checks/alternation.transition_self_drift):
    PSI/KL/JS of the (prev_role → role) transition distribution between the
    data's earlier and later half, split at the exact median transition
    time — catches protocol shifts (tool-chain lengths, double-turns) that
    leave every per-column histogram flat. Exact-percentile opt-in for the
    oracle; production default is the sketch."""
    from schema_infer_plugin_spark.checks import transition_self_drift

    return _psi_terms(transition_self_drift(_transcripts(spark, sf_dir), approx=False))


ORACLE_TRANSITION_DRIFT = oracle_cte(
    """
, seq AS (
  SELECT role,
         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx ASC NULLS FIRST,
                            ts ASC NULLS FIRST, role ASC NULLS FIRST) AS rn,
         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx ASC NULLS FIRST,
                         ts ASC NULLS FIRST, role ASC NULLS FIRST) AS prev,
         coalesce(epoch_us(ts), -4611686018427387904) AS ts_us
  FROM transcripts WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL),
tr AS (
  SELECT concat(coalesce(prev, '<null>'), '->', coalesce(role, '<null>')) AS bucket,
         ts_us
  FROM seq WHERE rn > 1),
med AS (SELECT quantile_cont(ts_us, 0.5) AS m FROM tr),
b AS (
  SELECT bucket, CAST(count(*) AS DOUBLE) / sum(count(*)) OVER () AS freq
  FROM tr, med WHERE ts_us < m GROUP BY 1),
c AS (
  SELECT bucket, CAST(count(*) AS DOUBLE) / sum(count(*)) OVER () AS freq
  FROM tr, med WHERE ts_us >= m GROUP BY 1),
j AS (
  SELECT coalesce(b.bucket, c.bucket) AS bucket,
         coalesce(b.freq, 0.0) AS freq_base, coalesce(c.freq, 0.0) AS freq_cur
  FROM b FULL OUTER JOIN c ON b.bucket = c.bucket)
SELECT bucket,
       CAST(round(freq_base, 6) AS DOUBLE) AS freq_base,
       CAST(round(freq_cur, 6) AS DOUBLE) AS freq_cur,
       CAST(round((freq_cur - freq_base) * ln((freq_cur + 1e-6) / (freq_base + 1e-6)), 6) + 0.0 AS DOUBLE) AS psi_term,
       CAST(round(freq_cur * ln((freq_cur + 1e-6) / (freq_base + 1e-6)), 6) + 0.0 AS DOUBLE) AS kl_term,
       CAST(round(
         0.5 * (freq_cur + 1e-6) * ln((freq_cur + 1e-6) / (((freq_cur + 1e-6) + (freq_base + 1e-6)) / 2))
         + 0.5 * (freq_base + 1e-6) * ln((freq_base + 1e-6) / (((freq_cur + 1e-6) + (freq_base + 1e-6)) / 2)),
         6) + 0.0 AS DOUBLE) AS js_term
FROM j
"""
)


def q_transition_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square homogeneity of the transition distribution between the
    data's earlier and later half (checks/alternation.transition_chi2 →
    checks/drift.drift_terms): per-bucket Pearson terms whose sum is
    asymptotically χ²(k−1) under "no protocol shift" — the calibrated
    companion to role_transition_drift's PSI/KL/JS. Exact DECIMAL(19,0)
    cross products, one fixed double formula per bounded row; exact median
    opt-in for the oracle."""
    from schema_infer_plugin_spark.checks import transition_chi2

    d = transition_chi2(_transcripts(spark, sf_dir), approx=False)
    z = F.lit(0.0)
    return d.select(
        "bucket",
        "o_base",
        "o_cur",
        "n_base",
        "n_cur",
        (F.round("chi2_term", 6) + z).cast("double").alias("chi2_term"),
    )


ORACLE_TRANSITION_CHI2 = oracle_cte(
    """
, seq AS (
  SELECT role,
         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx ASC NULLS FIRST,
                            ts ASC NULLS FIRST, role ASC NULLS FIRST) AS rn,
         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx ASC NULLS FIRST,
                         ts ASC NULLS FIRST, role ASC NULLS FIRST) AS prev,
         coalesce(epoch_us(ts), -4611686018427387904) AS ts_us
  FROM transcripts WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL),
tr AS (
  SELECT concat(coalesce(prev, '<null>'), '->', coalesce(role, '<null>')) AS bucket,
         ts_us
  FROM seq WHERE rn > 1),
med AS (SELECT quantile_cont(ts_us, 0.5) AS m FROM tr),
b AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM tr, med WHERE ts_us < m GROUP BY 1),
c AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM tr, med WHERE ts_us >= m GROUP BY 1),
j AS (
  SELECT coalesce(b.bucket, c.bucket) AS bucket,
         CAST(coalesce(b.cnt, 0) AS BIGINT) AS o_base,
         CAST(coalesce(c.cnt, 0) AS BIGINT) AS o_cur
  FROM b FULL OUTER JOIN c ON b.bucket = c.bucket),
t AS (
  SELECT bucket, o_base, o_cur,
         CAST(sum(o_base) OVER () AS BIGINT) AS n_base,
         CAST(sum(o_cur) OVER () AS BIGINT) AS n_cur
  FROM j),
d AS (
  SELECT bucket, o_base, o_cur, n_base, n_cur,
         CAST(CAST(o_cur AS DECIMAL(19,0)) * CAST(n_base AS DECIMAL(19,0)) AS DOUBLE)
         - CAST(CAST(o_base AS DECIMAL(19,0)) * CAST(n_cur AS DECIMAL(19,0)) AS DOUBLE)
           AS diff
  FROM t)
SELECT bucket, o_base, o_cur, n_base, n_cur,
       CASE WHEN n_cur > 0 AND n_base > 0 THEN
         CAST(round(
           diff * diff / (CAST(n_cur AS DOUBLE) * CAST(n_base AS DOUBLE)
                          * CAST(o_cur + o_base AS DOUBLE)),
           6) + 0.0 AS DOUBLE)
       END AS chi2_term
FROM d
"""
)


#: transition whitelist for the transition-domain query — the legal protocol
#: edges; everything else (moderator edges, double-turns, system
#: mid-conversation) becomes a typed violation. Shared by the Spark query and
#: the oracle text below.
_ALLOWED_TRANSITIONS = [
    "user->assistant",
    "assistant->user",
    "assistant->tool",
    "tool->assistant",
    "tool->tool",
    "system->user",
]


def q_role_transition_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Config-declared transition whitelist (checks/alternation.
    transition_rules): one violation per adjacent-turn (prev_role → role)
    edge outside the declared legal set — the DOMAIN constraint over the
    protocol's edge set that role_transition_matrix profiles. A conversation
    rule of the fused plan (one conv_id exchange, zero on a bucketed table),
    output ∝ violations; enabled in run_validation via
    validation.allowed_transitions."""
    from schema_infer_plugin_spark.checks import transition_rules

    return _fused(
        spark, sf_dir, "role_transition_domain",
        rules=transition_rules(_ALLOWED_TRANSITIONS),
    )


ORACLE_TRANSITION_DOMAIN = oracle_cte(
    f"""
SELECT 'role_transition_domain' AS check_name, conv_id, turn_idx,
       'role' AS col_name, concat(prev_role, '->', role) AS observed,
       'in {{{",".join(sorted(set(_ALLOWED_TRANSITIONS)))}}}' AS expected
FROM (
  SELECT conv_id, turn_idx, role,
         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx ASC NULLS FIRST,
                         ts ASC NULLS FIRST, role ASC NULLS FIRST) AS prev_role
  FROM transcripts WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL)
WHERE role IS NOT NULL AND prev_role IS NOT NULL
  AND concat(prev_role, '->', role) NOT IN
      ({",".join("'" + a + "'" for a in sorted(set(_ALLOWED_TRANSITIONS)))})
"""
)


#: shared rule suite for the batch AND streaming custom-constraint queries —
#: both must satisfy the same oracle SQL.
_EXPR_RULES = [
    ("turn_bound", "turn_idx <= 40", "turn_idx", "turn_idx", "<= 40"),
    ("text_min_len", "length(text) >= 3", "text", "length(text)", ">= 3"),
    (
        "ts_retention",
        "unix_micros(cast(ts as timestamp)) >= 1701388800000000",
        "ts",
        "unix_micros(cast(ts as timestamp))",
        ">= 2023-12-01T00:00:00Z",
    ),
]


def q_expr_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-declared constraint suite (checks/custom.expr_suite_violations):
    three declarative SQL rules compiled into ONE scan emitting standard
    violation rows — NULL predicate = fail (the length rule fires on NULL
    text with observed 'NULL'). Timestamps compared in epoch-µs per the
    engine invariant."""
    from schema_infer_plugin_spark.checks import expr_suite_violations

    return _viol(expr_suite_violations(_transcripts(spark, sf_dir), _EXPR_RULES))


def q_expr_suite_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME rule suite on Structured Streaming (streaming/incremental.
    validation_stream): row rules are a pure projection that needs no
    state, watermark or sentinel — the transcripts fixture is staged once,
    replayed with availableNow, and the cumulative append output must
    satisfy the SAME oracle SQL as the batch query (stateless ⇒
    row-identical)."""
    from schema_infer_plugin_spark.streaming.incremental import validation_stream

    return _replay_stream(
        spark, _transcripts(spark, sf_dir), lambda s: _viol(validation_stream(s, _EXPR_RULES))
    )


ORACLE_EXPR_SUITE = oracle_cte(
    """
SELECT 'turn_bound' AS check_name, conv_id, turn_idx, 'turn_idx' AS col_name,
       coalesce(CAST(turn_idx AS STRING), 'NULL') AS observed, '<= 40' AS expected
FROM transcripts WHERE NOT coalesce(turn_idx <= 40, FALSE)
UNION ALL
SELECT 'text_min_len', conv_id, turn_idx, 'text',
       coalesce(CAST(length(text) AS STRING), 'NULL'), '>= 3'
FROM transcripts WHERE NOT coalesce(length(text) >= 3, FALSE)
UNION ALL
SELECT 'ts_retention', conv_id, turn_idx, 'ts',
       coalesce(CAST(epoch_us(ts) AS STRING), 'NULL'), '>= 2023-12-01T00:00:00Z'
FROM transcripts WHERE NOT coalesce(epoch_us(ts) >= 1701388800000000, FALSE)
"""
)


def q_null_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fused(spark, sf_dir, "not_null_text")


ORACLE_NULL_TEXT = oracle_cte(
    """
SELECT 'not_null_text' AS check_name, conv_id, turn_idx, 'text' AS col_name,
       'NULL' AS observed, 'NOT NULL' AS expected
FROM transcripts WHERE text IS NULL
"""
)


# ---------------------------------------------------------------------------
# profiling (Pass A)
# ---------------------------------------------------------------------------

_PROFILE_COLS = ["conv_id", "turn_idx", "role", "text", "tool"]


def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = profile(_transcripts(spark, sf_dir), columns=_PROFILE_COLS, approx_distinct=False)
    return p.select(
        F.col("column").alias("col_name"),
        "total_count",
        "null_count",
        F.round("null_rate", 6).cast("double").alias("null_rate"),
        F.col("distinct_approx").alias("distinct_ct"),
        "min_val",
        "max_val",
    )


ORACLE_PROFILE = oracle_cte(
    " UNION ALL ".join(
        f"""
SELECT '{c}' AS col_name, CAST(count(*) AS BIGINT) AS total_count,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
       CAST(round(CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS DOUBLE) AS null_rate,
       CAST(count(DISTINCT {c}) AS BIGINT) AS distinct_ct,
       CAST(min({c}) AS STRING) AS min_val, CAST(max({c}) AS STRING) AS max_val
FROM transcripts"""
        for c in _PROFILE_COLS
    )
)


def q_profile_by_role(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition profiling (north_star: "groupBy/agg per partition"):
    the same single-pass wide profile, grouped by role — the reference's
    per-topic analog. Examples excluded from the compare: profile(
    partition_by=...) samples them per partition via the md5-ranked
    fixed_k_sample, which has no DuckDB mirror in this query."""
    p = profile(
        _transcripts(spark, sf_dir), ["turn_idx", "text"], partition_by="role",
        approx_distinct=False,
    )
    return p.select(
        "partition_key",
        F.col("column").alias("col_name"),
        "total_count",
        "null_count",
        F.round("null_rate", 6).cast("double").alias("null_rate"),
        F.col("distinct_approx").alias("distinct_ct"),
        "min_val",
        "max_val",
    )


ORACLE_PROFILE_BY_ROLE = oracle_cte(
    """
SELECT coalesce(CAST(role AS STRING), CAST(NULL AS STRING)) AS partition_key, col_name,
       total_count, null_count, null_rate, distinct_ct, min_val, max_val
FROM (
  SELECT role,
         'turn_idx' AS col_name,
         CAST(count(*) AS BIGINT) AS total_count,
         CAST(sum(CASE WHEN turn_idx IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
         CAST(round(CAST(sum(CASE WHEN turn_idx IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS DOUBLE) AS null_rate,
         CAST(count(DISTINCT turn_idx) AS BIGINT) AS distinct_ct,
         CAST(min(turn_idx) AS STRING) AS min_val,
         CAST(max(turn_idx) AS STRING) AS max_val
  FROM transcripts GROUP BY role
  UNION ALL
  SELECT role, 'text',
         CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(round(CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS DOUBLE),
         CAST(count(DISTINCT text) AS BIGINT),
         min(text), max(text)
  FROM transcripts GROUP BY role
)
"""
)


def q_type_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference type-ladder over a derived table with every type + edge cases:
    exact-0.8 confidence boundary and exact-0.1 null-ratio boundary."""
    events = load_table(spark, sf_dir, "events")
    events.createOrReplaceTempView("events")
    derived = spark.sql(_TYPE_LADDER_SOURCE_SQL)
    return type_profile(derived, columns=_TYPE_LADDER_COLS).withColumnRenamed(
        "column", "col_name"
    )


_TYPE_LADDER_SOURCE_SQL = """
SELECT
  CAST(user_id AS STRING) AS s_int,
  CAST(event_id % 100 AS STRING) || '.5' AS s_float,
  event_type AS s_str,
  CASE WHEN event_id % 2 = 0 THEN 'true' ELSE 'FALSE' END AS s_bool,
  CASE WHEN event_id % 4 = 0 THEN 'abc' ELSE CAST(event_id AS STRING) END AS s_mixed,
  CASE WHEN event_id % 10 = 0 THEN NULL ELSE CAST(event_id % 7 AS STRING) END AS s_nullable,
  CASE WHEN event_id % 2 = 0 THEN 'x' ELSE CAST(event_id AS STRING) END AS s_union,
  CASE WHEN event_id % 3 = 0 THEN '1.5d' WHEN event_id % 3 = 1 THEN '0D' ELSE '.5' END AS s_suffixed
FROM events
"""
_TYPE_LADDER_COLS = [
    "s_int", "s_float", "s_str", "s_bool", "s_mixed", "s_nullable", "s_union",
    # Java-suffixed literals ('1.5d', '0D') MUST classify string per the
    # reference's Python float(); '.5' is float (VERDICT r4 finding #1)
    "s_suffixed",
]

ORACLE_TYPE_PROFILE = _duck_type_profile_sql(_TYPE_LADDER_SOURCE_SQL, _TYPE_LADDER_COLS)


def q_drift_role(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Role-distribution drift: first half of users (baseline) vs second half."""
    t = _transcripts(spark, sf_dir).withColumn(
        "half",
        # two-sided when: a NULL conv_id satisfies neither predicate and
        # lands in NEITHER half (an otherwise('cur') would silently bucket
        # keyless rows — the oracle's WHERE clauses exclude them)
        F.when(F.col("conv_id") < "conv_000075", "base").when(
            F.col("conv_id") >= "conv_000075", "cur"
        ),
    )
    # both halves from one count keyed by the half
    counts = drift_counts(t, ["role"], by=["half"])
    half = lambda h: counts.filter(F.col("half") == h).drop("half")  # noqa: E731
    return _psi_terms(drift_terms(half("cur"), half("base")))


ORACLE_DRIFT_ROLE = oracle_cte(
    """
SELECT bucket,
       CAST(round(freq_base, 6) AS DOUBLE) AS freq_base,
       CAST(round(freq_cur, 6) AS DOUBLE) AS freq_cur,
       CAST(round((freq_cur - freq_base) * ln((freq_cur + 1e-6) / (freq_base + 1e-6)), 6) + 0.0 AS DOUBLE) AS psi_term,
       CAST(round(freq_cur * ln((freq_cur + 1e-6) / (freq_base + 1e-6)), 6) + 0.0 AS DOUBLE) AS kl_term,
       CAST(round(
         0.5 * (freq_cur + 1e-6) * ln((freq_cur + 1e-6) / (((freq_cur + 1e-6) + (freq_base + 1e-6)) / 2))
         + 0.5 * (freq_base + 1e-6) * ln((freq_base + 1e-6) / (((freq_cur + 1e-6) + (freq_base + 1e-6)) / 2)),
         6) + 0.0 AS DOUBLE) AS js_term
FROM (
  SELECT coalesce(b.bucket, c.bucket) AS bucket,
         coalesce(b.freq, 0.0) AS freq_base, coalesce(c.freq, 0.0) AS freq_cur
  FROM (
    SELECT coalesce(role, '<null>') AS bucket,
           CAST(count(*) AS DOUBLE) / sum(count(*)) OVER () AS freq
    FROM transcripts WHERE conv_id < 'conv_000075' GROUP BY 1
  ) b
  FULL OUTER JOIN (
    SELECT coalesce(role, '<null>') AS bucket,
           CAST(count(*) AS DOUBLE) / sum(count(*)) OVER () AS freq
    FROM transcripts WHERE conv_id >= 'conv_000075' GROUP BY 1
  ) c ON b.bucket = c.bucket
)
"""
)


def q_temporal_self_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-config drift (checks/drift.temporal_self_drift): event_type
    distribution of the data's earlier vs later half, split at the exact
    median event time — no baseline run needed. Exact-percentile opt-in for
    the oracle; production default is the sketch."""
    from schema_infer_plugin_spark.checks import temporal_self_drift

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    return _psi_terms(temporal_self_drift(ev, "event_type", "ts", approx=False))


ORACLE_TEMPORAL_DRIFT = """
WITH med AS (SELECT quantile_cont(epoch_us(ts), 0.5) AS m FROM events),
b AS (
  SELECT coalesce(event_type, '<null>') AS bucket,
         CAST(count(*) AS DOUBLE) / sum(count(*)) OVER () AS freq
  FROM events, med WHERE epoch_us(ts) < m GROUP BY 1),
c AS (
  SELECT coalesce(event_type, '<null>') AS bucket,
         CAST(count(*) AS DOUBLE) / sum(count(*)) OVER () AS freq
  FROM events, med WHERE epoch_us(ts) >= m GROUP BY 1),
j AS (
  SELECT coalesce(b.bucket, c.bucket) AS bucket,
         coalesce(b.freq, 0.0) AS freq_base, coalesce(c.freq, 0.0) AS freq_cur
  FROM b FULL OUTER JOIN c ON b.bucket = c.bucket)
SELECT bucket,
       CAST(round(freq_base, 6) AS DOUBLE) AS freq_base,
       CAST(round(freq_cur, 6) AS DOUBLE) AS freq_cur,
       CAST(round((freq_cur - freq_base) * ln((freq_cur + 1e-6) / (freq_base + 1e-6)), 6) + 0.0 AS DOUBLE) AS psi_term,
       CAST(round(freq_cur * ln((freq_cur + 1e-6) / (freq_base + 1e-6)), 6) + 0.0 AS DOUBLE) AS kl_term,
       CAST(round(
         0.5 * (freq_cur + 1e-6) * ln((freq_cur + 1e-6) / (((freq_cur + 1e-6) + (freq_base + 1e-6)) / 2))
         + 0.5 * (freq_base + 1e-6) * ln((freq_base + 1e-6) / (((freq_cur + 1e-6) + (freq_base + 1e-6)) / 2)),
         6) + 0.0 AS DOUBLE) AS js_term
FROM j
"""


def q_validate_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused single-pass Pass B (plans/validate.py): every check in one scan +
    one exchange. Oracle = UNION ALL of the per-check SQL texts. ts_monotonic
    rows are excluded here (timestamp→string rendering differs between engines
    on trailing-zero microseconds) — they are oracle-checked by
    ``transcripts_ts_monotonic`` (epoch-µs compare) and counted per partition
    by ``transcripts_verdicts``."""
    from schema_infer_plugin_spark.plans.validate import validate_transcripts

    return _viol(
        validate_transcripts(_transcripts(spark, sf_dir)).filter(
            F.col("check_name") != "ts_monotonic"
        )
    )


def q_ts_monotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time integrity: ts non-decreasing along (turn_idx, ts) within each
    conversation (checks/temporal.py), compared in epoch microseconds. One
    windowed pass — no rejoin, so duplicated (conv_id, turn_idx) keys (a row
    hit by both the dup and ts-rewind injections) cannot fan out."""
    from schema_infer_plugin_spark.checks.temporal import ts_monotonic_violations_us

    return ts_monotonic_violations_us(_transcripts(spark, sf_dir))


ORACLE_TS_MONOTONIC = oracle_cte(
    """
SELECT 'ts_monotonic' AS check_name, conv_id, turn_idx,
       CAST(epoch_us(ts) AS BIGINT) AS observed_us,
       CAST(epoch_us(prev_ts) AS BIGINT) AS expected_after_us
FROM (
  SELECT conv_id, turn_idx, ts,
         lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx ASC NULLS FIRST, ts ASC NULLS FIRST) AS prev_ts
  FROM transcripts WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL)
WHERE ts < prev_ts
"""
)


#: inner SELECT of the fused-validation oracle (references the
#: ``transcripts`` view) — kept un-wrapped so the sampled-estimate oracle can
#: rebind ``transcripts`` to a sampled CTE around the SAME text.
_FUSED_INNER = f"""
SELECT 'uniqueness' AS check_name, conv_id, turn_idx, 'conv_id,turn_idx' AS col_name,
       CAST(count(*) AS STRING) AS observed, '1' AS expected
FROM transcripts WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL
GROUP BY conv_id, turn_idx HAVING count(*) > 1
UNION ALL
SELECT * FROM (
  WITH idx AS (SELECT DISTINCT conv_id, turn_idx FROM transcripts
               WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL),
  lagged AS (
    SELECT conv_id, turn_idx,
           lag(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx NULLS FIRST) AS prev_idx
    FROM idx)
  SELECT 'contiguity' AS check_name, conv_id, turn_idx, 'turn_idx' AS col_name,
         CAST(turn_idx AS STRING) AS observed, CAST(prev_idx + 1 AS STRING) AS expected
  FROM lagged WHERE prev_idx IS NOT NULL AND turn_idx != prev_idx + 1
  UNION ALL
  SELECT 'contiguity_start', conv_id, turn_idx, 'turn_idx',
         CAST(turn_idx AS STRING), '0'
  FROM lagged WHERE prev_idx IS NULL AND turn_idx != 0
)
UNION ALL
SELECT 'domain_role', conv_id, turn_idx, 'role', role, '{",".join(ROLE_DOMAIN)}'
FROM transcripts WHERE role IS NOT NULL AND role NOT IN ({",".join(repr(r) for r in ROLE_DOMAIN)})
UNION ALL
SELECT 'domain_tool', conv_id, turn_idx, 'tool', tool, '{",".join(TOOL_DOMAIN)}'
FROM transcripts WHERE tool IS NOT NULL AND tool NOT IN ({",".join(repr(t) for t in TOOL_DOMAIN)})
UNION ALL
SELECT 'tool_without_role', conv_id, turn_idx, 'tool', tool, 'NULL unless role=tool'
FROM transcripts WHERE tool IS NOT NULL AND coalesce(role, '') != 'tool'
UNION ALL
SELECT 'not_null_text', conv_id, turn_idx, 'text', 'NULL', 'NOT NULL'
FROM transcripts WHERE text IS NULL
UNION ALL
SELECT 'not_null_conv_id', conv_id, turn_idx, 'conv_id', 'NULL', 'NOT NULL'
FROM transcripts WHERE conv_id IS NULL
UNION ALL
SELECT 'not_null_turn_idx', conv_id, turn_idx, 'turn_idx', 'NULL', 'NOT NULL'
FROM transcripts WHERE turn_idx IS NULL
"""

ORACLE_VALIDATE_FUSED = oracle_cte(_FUSED_INNER)


def q_sampled_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-validation pre-pass (plans/validate.
    sampled_validation_estimate): the fused checks on a deterministic
    25% md5 sample of CONVERSATIONS (rate 64/256 — whole conversations, so
    window checks never see seam artifacts), estimating each check's
    per-turn violation rate with a Wilson 95% interval from the exact
    (violations, sampled turns) pair — the "is this batch worth a full
    Pass B?" answer at 10^12-turn scale. One fixed double formula
    (z = 1.959964), bit-identical across engines."""
    from schema_infer_plugin_spark.plans.validate import sampled_validation_estimate

    e = sampled_validation_estimate(_transcripts(spark, sf_dir), rate_num=64)
    z0 = F.lit(0.0)
    rd = lambda c: (F.round(c, 6) + z0).cast("double").alias(c)  # noqa: E731
    return e.select(
        "check_name",
        "n_turns",
        "n_violations",
        rd("rate"),
        rd("ci_lo"),
        rd("ci_hi"),
        "n_convs",
        "conv_violations",
        rd("conv_rate"),
        rd("conv_ci_lo"),
        rd("conv_ci_hi"),
    )


#: Wilson-interval SQL shared shape: z inlined as the same literal product
#: the Spark side constant-folds; every arithmetic step parenthesized to the
#: identical IEEE evaluation order.
ORACLE_SAMPLED_VALIDATION = f"""
WITH transcripts_full AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
transcripts AS (
  SELECT * FROM transcripts_full WHERE substring(md5(conv_id), 1, 2) < '40'),
v AS ({_FUSED_INNER}
UNION ALL
SELECT 'ts_monotonic', conv_id, turn_idx, 'ts', 'x', 'x'
FROM (
  SELECT conv_id, turn_idx, ts,
         lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx ASC NULLS FIRST,
                       ts ASC NULLS FIRST) AS prev_ts
  FROM transcripts WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL)
WHERE ts < prev_ts),
grid AS (
  SELECT * FROM (VALUES {",".join("(" + repr(c) + ")" for c in CHECK_NAMES)})
  AS g(check_name)),
counts AS (
  SELECT check_name, CAST(count(*) AS BIGINT) AS n_violations,
         CAST(count(DISTINCT conv_id) AS BIGINT) AS conv_violations
  FROM v GROUP BY 1),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_turns,
         CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
  FROM transcripts),
e AS (
  SELECT g.check_name,
         CAST(coalesce(c.n_violations, 0) AS BIGINT) AS n_violations,
         CAST(coalesce(c.conv_violations, 0) AS BIGINT) AS conv_violations,
         t.n_turns, t.n_convs
  FROM grid g LEFT JOIN counts c USING (check_name) CROSS JOIN tot t),
w AS (
  SELECT check_name, n_turns, n_violations, n_convs, conv_violations,
         CAST(n_violations AS DOUBLE) / CAST(n_turns AS DOUBLE) AS phat,
         CAST(n_turns AS DOUBLE) AS n,
         CAST(conv_violations AS DOUBLE) / CAST(n_convs AS DOUBLE) AS cphat,
         CAST(n_convs AS DOUBLE) AS cn
  FROM e),
w2 AS (
  SELECT *,
         1.0 + (1.959964 * 1.959964) / n AS denomw,
         (phat + (1.959964 * 1.959964) / (2.0 * n)) AS cnum,
         1.959964 * sqrt(phat * (1.0 - phat) / n
                         + (1.959964 * 1.959964) / (4.0 * (n * n))) AS hnum,
         1.0 + (1.959964 * 1.959964) / cn AS cdenomw,
         (cphat + (1.959964 * 1.959964) / (2.0 * cn)) AS ccnum,
         1.959964 * sqrt(cphat * (1.0 - cphat) / cn
                         + (1.959964 * 1.959964) / (4.0 * (cn * cn))) AS chnum
  FROM w)
SELECT check_name, n_turns, n_violations,
       CASE WHEN n_turns > 0
            THEN CAST(round(phat, 6) + 0.0 AS DOUBLE) END AS rate,
       CASE WHEN n_turns > 0
            THEN CAST(round(greatest(least(cnum / denomw - hnum / denomw, phat), 0.0), 6)
                 + 0.0 AS DOUBLE) END AS ci_lo,
       CASE WHEN n_turns > 0
            THEN CAST(round(least(greatest(cnum / denomw + hnum / denomw, phat), 1.0), 6)
                 + 0.0 AS DOUBLE) END AS ci_hi,
       n_convs, conv_violations,
       CASE WHEN n_convs > 0
            THEN CAST(round(cphat, 6) + 0.0 AS DOUBLE) END AS conv_rate,
       CASE WHEN n_convs > 0
            THEN CAST(round(greatest(least(ccnum / cdenomw - chnum / cdenomw, cphat), 0.0), 6)
                 + 0.0 AS DOUBLE) END AS conv_ci_lo,
       CASE WHEN n_convs > 0
            THEN CAST(round(least(greatest(ccnum / cdenomw + chnum / cdenomw, cphat), 1.0), 6)
                 + 0.0 AS DOUBLE) END AS conv_ci_hi
FROM w2
"""


# ---------------------------------------------------------------------------
# relational headline queries (TPC-H-style; scan→agg→join→sort coverage + bench)
# ---------------------------------------------------------------------------



def q_violations_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded triage sample (operators/violations.violations_sample): a
    deterministic md5-ranked 5-row slice of EVERY check's violations — the
    artifact a human reads when a check fails on 10^12 turns; ≤ k × #checks
    rows no matter how broken the input."""
    from schema_infer_plugin_spark.operators.violations import violations_sample
    from schema_infer_plugin_spark.plans.validate import validate_transcripts

    viol = validate_transcripts(_transcripts(spark, sf_dir)).filter(
        F.col("check_name") != "ts_monotonic"
    )
    return _viol(violations_sample(viol, k=5))


ORACLE_VIOLATIONS_TRIAGE = f"""
WITH v AS ({ORACLE_VALIDATE_FUSED})
SELECT check_name, conv_id, turn_idx, col_name, observed, expected,
       CAST(rnk AS INT) AS sample_rank
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY check_name
      ORDER BY md5(concat_ws(':', check_name, conv_id, CAST(turn_idx AS STRING), observed)),
               conv_id NULLS FIRST, turn_idx NULLS FIRST, observed NULLS FIRST
    ) AS rnk
  FROM v)
WHERE rnk <= 5
"""



def q_quality_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row-per-check health rollup + __all__ grand total
    (operators/violations.violations_scorecard): the first artifact a human
    reads after a run — aggregates the fused validation's OUTPUT (rows ∝
    errors, never ∝ input)."""
    from schema_infer_plugin_spark.operators.violations import violations_scorecard
    from schema_infer_plugin_spark.plans.validate import validate_transcripts

    viol = validate_transcripts(_transcripts(spark, sf_dir)).filter(
        F.col("check_name") != "ts_monotonic"
    )
    return violations_scorecard(viol)


ORACLE_QUALITY_SCORECARD = f"""
WITH v AS ({ORACLE_VALIDATE_FUSED})
SELECT coalesce(check_name, '__all__') AS check_name,
       CAST(count(*) AS BIGINT) AS n_violations,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
FROM v GROUP BY ROLLUP(check_name)
"""


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty_raw"),
            F.sum("l_extendedprice").alias("sum_base_raw"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_raw"),
            F.avg("l_quantity").alias("avg_qty_raw"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.round("sum_qty_raw", 2).alias("sum_qty"),
            F.round("sum_base_raw", 2).alias("sum_base_price"),
            F.round("sum_disc_raw", 2).alias("sum_disc_price"),
            F.round("avg_qty_raw", 4).alias("avg_qty"),
            "count_order",
        )
    )


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
       CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS sum_disc_price,
       CAST(round(avg(l_quantity), 4) AS DOUBLE) AS avg_qty,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + deterministic top-k (revenue rounded, orderkey tie-break)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )
    return (
        orders.join(rev, orders.o_orderkey == rev.l_orderkey)
        .select("o_orderkey", "o_orderstatus", "revenue")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


ORACLE_TOP_REVENUE_ORDERS = """
SELECT o_orderkey, o_orderstatus, revenue FROM (
  SELECT o.o_orderkey, o.o_orderstatus,
         CAST(round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS DOUBLE) AS revenue
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY o.o_orderkey, o.o_orderstatus
) ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
"""


def q_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join through region→nation→customer→orders→lineitem with broadcast
    dims (the 100 TB plan: only the fact table shuffles, on the join key)."""
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


ORACLE_NATION_REVENUE = """
SELECT r.r_name, n.n_name,
       CAST(round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
"""


# ---------------------------------------------------------------------------
# dynamic JSON inference / format detection / parsing (reference core surface)
# ---------------------------------------------------------------------------

#: Five known record shapes over events → expected profile is derivable in
#: closed form (the oracle computes it from residue-class counts).
_JSON_CORPUS_SQL = """
SELECT CASE CAST(event_id % 5 AS INT)
  WHEN 0 THEN '{"a": 1, "b": {"c": "x"}, "arr": [1, 2, 3]}'
  WHEN 1 THEN '{"a": "s", "b": {"c": "y"}, "arr": ["p"], "opt": null}'
  WHEN 2 THEN '{"a": 2, "items": [{"id": 1}], "opt": 5}'
  WHEN 3 THEN '{"a": true, "deep": [[{"z": 1}]]}'
  ELSE '{"a": 3.5, "empty": []}' END AS payload
FROM events
"""


def q_json_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    from schema_infer_plugin_spark.operators.inference import infer_json_schema

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    corpus = spark.sql(_JSON_CORPUS_SQL)
    return infer_json_schema(corpus, "payload").drop("examples")


ORACLE_JSON_INFERENCE = """
WITH n AS (
  SELECT CAST(sum(CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN event_id % 5 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN event_id % 5 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(sum(CASE WHEN event_id % 5 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         CAST(sum(CASE WHEN event_id % 5 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
         CAST(count(*) AS BIGINT) AS nt
  FROM events)
SELECT 'a' AS field_path, 'union' AS inferred_type,
       CAST(round(CAST(greatest(n0 + n2, n1, n3, n4) AS DOUBLE) / nt, 6) AS DOUBLE) AS confidence,
       false AS nullable, true AS required, nt AS total_count, CAST(0 AS BIGINT) AS null_count FROM n
UNION ALL SELECT 'b', 'object', 1.0, false, true, n0 + n1, 0 FROM n
UNION ALL SELECT 'b.c', 'string', 1.0, false, true, n0 + n1, 0 FROM n
UNION ALL SELECT 'arr', 'union',
       CAST(round(CAST(greatest(n0, n1) AS DOUBLE) / (n0 + n1), 6) AS DOUBLE),
       false, true, n0 + n1, 0 FROM n
UNION ALL SELECT 'opt', 'int', 1.0, n1 > 0,
       (n1 = 0 OR CAST(n1 AS DOUBLE) / (n1 + n2) < 0.1), n1 + n2, n1 FROM n
UNION ALL SELECT 'items', 'object', 1.0, false, true, n2, 0 FROM n
UNION ALL SELECT 'items[].id', 'int', 1.0, false, true, n2, 0 FROM n
UNION ALL SELECT 'deep', 'array<object>', 1.0, false, true, n3, 0 FROM n
UNION ALL SELECT 'deep[][].z', 'int', 1.0, false, true, n3, 0 FROM n
UNION ALL SELECT 'empty', 'array', 1.0, false, true, n4, 0 FROM n
"""


def q_format_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from schema_infer_plugin_spark.operators.detector import format_scores

    events = load_table(spark, sf_dir, "events")
    return format_scores(events, "props").select(
        "format", F.round("score", 6).cast("double").alias("score"), "priority"
    )


ORACLE_FORMAT_DETECT = r"""
WITH t AS (SELECT trim(props) AS m FROM events
           WHERE props IS NOT NULL AND length(trim(props)) > 0),
p AS (SELECT
  avg(CASE WHEN regexp_matches(m, '(?s)^\s*\{.*\}\s*$')
            OR regexp_matches(m, '(?s)^\s*\[.*\]\s*$') THEN 1.0 ELSE 0.0 END) AS p_json,
  avg(CASE WHEN regexp_matches(m, '(?s)^[^,]+(,[^,]+)+$')
            OR regexp_matches(m, '(?s)^[^,\n]+(,[^,\n]+)+$') THEN 1.0 ELSE 0.0 END) AS p_csv,
  avg(CASE WHEN regexp_matches(m, '(?s)^[^\t]+(\t[^\t]+)+$') THEN 1.0 ELSE 0.0 END) AS p_tsv,
  avg(CASE WHEN regexp_matches(m, '(?s)^[^=]+=[^=]+(,[^=]+=[^=]+)*$')
            OR regexp_matches(m, '(?s)^[^:]+:[^:]+(,[^:]+:[^:]+)*$') THEN 1.0 ELSE 0.0 END) AS p_kv
  FROM t)
SELECT 'json' AS format, CAST(round(least(p_json * 0.7 + 0.15, 1.0), 6) AS DOUBLE) AS score, 0 AS priority FROM p
UNION ALL SELECT 'csv', CAST(round(least(p_csv * 0.7 + 0.15, 1.0), 6) AS DOUBLE), 1 FROM p
UNION ALL SELECT 'tsv', CAST(round(least(p_tsv * 0.7 + 0.15, 1.0), 6) AS DOUBLE), 2 FROM p
UNION ALL SELECT 'key-value', CAST(round(least(p_kv * 0.7 + 0.15, 1.0), 6) AS DOUBLE), 3 FROM p
"""

_KV_CORPUS_SQL = """
SELECT event_id,
       concat('user=', CAST(user_id AS STRING), ', type=', event_type,
              ', active=true, score="', CAST(event_id % 3 AS STRING), '"',
              ', ratio=', CAST(event_id % 5 AS STRING), '.5',
              ', dur=1.5d, rate=0D, pad=" 7 ", note=""') AS line
FROM events
"""


def q_kv_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KV ladder over synthesized lines. 'dur=1.5d' / 'rate=0D' pin the
    Java-suffix edge: Python float() (the reference ladder) rejects trailing
    D/d/F/f, so they must classify as STRING — a bare try_cast("double")
    would call them float (VERDICT r4 finding #1). 'pad=" 7 "' pins the
    quote-path whitespace edge (Python int() strips → INT, not float), and
    'note=""' pins the quoted-empty edge (reference _convert_value('') →
    None → vtype null; the pair survives because the emptiness check runs on
    the still-quoted raw value, parsers.py:305)."""
    from schema_infer_plugin_spark.operators.parsers import parse_key_value

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    corpus = spark.sql(_KV_CORPUS_SQL)
    out = parse_key_value(corpus, "line")
    return out.select(
        "event_id",
        "kv_key",
        "kv_value",
        F.col("kv.vtype").alias("vtype"),
        F.col("kv.as_int").alias("as_int"),
        F.col("kv.as_boolean").alias("as_boolean"),
        F.col("kv.as_float").alias("as_float"),
    )


ORACLE_KV_PARSE = """
SELECT event_id, 'user' AS kv_key, CAST(user_id AS STRING) AS kv_value,
       'int' AS vtype, CAST(user_id AS BIGINT) AS as_int, CAST(NULL AS BOOLEAN) AS as_boolean,
       CAST(NULL AS DOUBLE) AS as_float
FROM events
UNION ALL SELECT event_id, 'type', event_type, 'string', NULL, NULL, NULL FROM events
UNION ALL SELECT event_id, 'active', 'true', 'boolean', NULL, true, NULL FROM events
UNION ALL SELECT event_id, 'score', CAST(event_id % 3 AS STRING), 'int', event_id % 3, NULL, NULL FROM events
UNION ALL SELECT event_id, 'ratio', concat(CAST(event_id % 5 AS STRING), '.5'), 'float', NULL, NULL,
       CAST(event_id % 5 AS DOUBLE) + 0.5 FROM events
UNION ALL SELECT event_id, 'dur', '1.5d', 'string', NULL, NULL, NULL FROM events
UNION ALL SELECT event_id, 'rate', '0D', 'string', NULL, NULL, NULL FROM events
UNION ALL SELECT event_id, 'pad', ' 7 ', 'int', 7, NULL, NULL FROM events
UNION ALL SELECT event_id, 'note', '', 'null', NULL, NULL, NULL FROM events
"""


def q_delimiter_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from schema_infer_plugin_spark.operators.detector import delimiter_scores

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    corpus = spark.sql(
        "SELECT concat(event_type, '|', CAST(user_id AS STRING), '|', CAST(event_id % 7 AS STRING)) AS line FROM events"
    )
    return delimiter_scores(corpus, "line").select(
        "delimiter", F.round("score", 6).cast("double").alias("score")
    )


ORACLE_DELIMITER_SCORES = """
WITH t AS (SELECT concat(event_type, '|', CAST(user_id AS STRING), '|', CAST(event_id % 7 AS STRING)) AS line
           FROM events),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM t),
s AS (
  SELECT '|' AS delimiter,
         var_pop(CASE WHEN contains(line, '|') AND len(string_split(line, '|')) > 1
                      THEN CAST(len(string_split(line, '|')) AS DOUBLE) END) AS v,
         CAST(count(CASE WHEN contains(line, '|') AND len(string_split(line, '|')) > 1
                         THEN 1 END) AS DOUBLE) AS cnt
  FROM t)
SELECT delimiter,
       CAST(round((1.0 / (1.0 + coalesce(v, 0.0))) * (cnt / (SELECT n FROM tot)), 6) AS DOUBLE) AS score
FROM s WHERE cnt > 0
"""


# ---------------------------------------------------------------------------
# datapipe: dedup / similarity / ANN / text analytics (documents, embeddings)
# ---------------------------------------------------------------------------

#: Near-dup test corpus: documents ∪ mutated copies (one appended token) ∪
#: exact copies — same construction in Spark and in the oracle CTE.
_CORPUS_CTE = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 100000 AS doc_id, text || ' zzz' AS text FROM documents WHERE doc_id % 10 = 0
  UNION ALL SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
)"""



def _fan(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Fan a single-split sandbox table out to full parallelism before
    CPU-heavy per-row work (no-op concern at production split counts)."""
    return df.repartition(spark.sparkContext.defaultParallelism)

def _mutated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the sandbox documents table is one parquet file -> one input split; fan
    # out before the CPU-heavy shingle/hash stages (a production corpus has
    # thousands of splits and would never bottleneck on scan parallelism)
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    m1 = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
    )
    m2 = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), F.col("text")
    )
    return d.unionByName(m1).unionByName(m2)


def q_dedup_exact_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn-level exact dedup ACROSS conversations (transcripts × datapipe
    crossover): repeated turn texts are template/canned messages — a training
    pipeline deduplicates or downweights them. Reuses exact_dedup with the
    composite turn id."""
    from schema_infer_plugin_spark.datapipe import exact_dedup

    t = _transcripts(spark, sf_dir).filter(F.col("text").isNotNull())
    keyed = t.select(
        F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias("turn_id"),
        "text",
    )
    return exact_dedup(keyed, "turn_id", "text").filter(F.col("dup_count") > 1)


ORACLE_DEDUP_EXACT_TURNS = oracle_cte(
    """
SELECT md5(text) AS text_hash, min(concat_ws('#', conv_id, CAST(turn_idx AS STRING))) AS keep_id,
       CAST(count(*) AS BIGINT) AS dup_count
FROM transcripts WHERE text IS NOT NULL
GROUP BY md5(text) HAVING count(*) > 1
"""
)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from schema_infer_plugin_spark.datapipe import exact_dedup

    return exact_dedup(_mutated_corpus(spark, sf_dir), "doc_id", "text")


ORACLE_DEDUP_EXACT = f"""
WITH {_CORPUS_CTE}
SELECT md5(text) AS text_hash, CAST(min(doc_id) AS BIGINT) AS keep_id,
       CAST(count(*) AS BIGINT) AS dup_count
FROM corpus GROUP BY md5(text)
"""


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from schema_infer_plugin_spark.datapipe import lsh_candidate_pairs, minhash_signatures

    sig = minhash_signatures(_mutated_corpus(spark, sf_dir), "doc_id", "text", num_hashes=16, shingle_k=3)
    return lsh_candidate_pairs(sig, "doc_id", bands=4, min_est_jaccard=0.5)


ORACLE_MINHASH_LSH = rf"""
WITH {_CORPUS_CTE},
toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM corpus),
sh AS (SELECT doc_id,
              unnest(list_distinct(list_transform(generate_series(1, greatest(len(tk)-2, 1)),
                                                  i -> array_to_string(tk[i:i+2], ' ')))) AS sh
       FROM toks),
hh AS (SELECT doc_id,
              CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT) % 2147483647 AS h1,
              CAST(concat('0x', substr(md5(sh), 9, 8)) AS BIGINT) % 2147483647 AS h2
       FROM sh),
sig AS (SELECT doc_id, [{", ".join(f"min((h1 + {i} * h2) % 2147483647)" for i in range(16))}] AS sig
        FROM hh GROUP BY doc_id),
banded AS (SELECT doc_id, sig, b, md5(array_to_string(sig[b*4+1:b*4+4], '|')) AS bh
           FROM sig CROSS JOIN generate_series(0, 3) AS t(b)),
pairs AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b, l.sig AS sa, r.sig AS sb
          FROM banded l JOIN banded r ON l.b = r.b AND l.bh = r.bh AND l.doc_id < r.doc_id)
SELECT id_a, id_b, est_jaccard FROM (
  SELECT id_a, id_b,
         CAST(len(list_filter(generate_series(1, 16), i -> sa[i] = sb[i])) AS DOUBLE)/16 AS est_jaccard
  FROM pairs
) WHERE est_jaccard >= 0.5
"""


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate CLUSTERS: iterative min-label propagation
    (datapipe/graph.connected_components) over the MinHash-LSH pair graph —
    an iterative Spark algorithm, still DuckDB-oracle-checked via a recursive
    transitive-closure CTE."""
    from schema_infer_plugin_spark.datapipe import (
        connected_components,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sig = minhash_signatures(
        _mutated_corpus(spark, sf_dir), "doc_id", "text", num_hashes=16, shingle_k=3
    )
    pairs = lsh_candidate_pairs(sig, "doc_id", bands=4, min_est_jaccard=0.5)
    return connected_components(pairs).select(
        F.col("node").alias("doc_id"), "component"
    )


ORACLE_DEDUP_COMPONENTS = rf"""
WITH RECURSIVE {_CORPUS_CTE},
toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM corpus),
sh AS (SELECT doc_id,
              unnest(list_distinct(list_transform(generate_series(1, greatest(len(tk)-2, 1)),
                                                  i -> array_to_string(tk[i:i+2], ' ')))) AS sh
       FROM toks),
hh AS (SELECT doc_id,
              CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT) % 2147483647 AS h1,
              CAST(concat('0x', substr(md5(sh), 9, 8)) AS BIGINT) % 2147483647 AS h2
       FROM sh),
sig AS (SELECT doc_id, [{", ".join(f"min((h1 + {i} * h2) % 2147483647)" for i in range(16))}] AS sig
        FROM hh GROUP BY doc_id),
banded AS (SELECT doc_id, sig, b, md5(array_to_string(sig[b*4+1:b*4+4], '|')) AS bh
           FROM sig CROSS JOIN generate_series(0, 3) AS t(b)),
cand AS (SELECT id_a, id_b FROM (
           SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
                  CAST(len(list_filter(generate_series(1, 16), i -> l.sig[i] = r.sig[i])) AS DOUBLE)/16 AS ej
           FROM banded l JOIN banded r ON l.b = r.b AND l.bh = r.bh AND l.doc_id < r.doc_id)
         WHERE ej >= 0.5),
edges AS (SELECT id_a AS s, id_b AS d FROM cand UNION SELECT id_b, id_a FROM cand),
reach AS (SELECT s, d FROM edges
          UNION
          SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
SELECT s AS doc_id, CAST(least(s, min(d)) AS BIGINT) AS component
FROM reach GROUP BY s
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from schema_infer_plugin_spark.datapipe import simhash

    return simhash(_fan(spark, load_table(spark, sf_dir, "documents")), "doc_id", "text")


ORACLE_SIMHASH = r"""
WITH tk AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents),
h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 8) AS UBIGINT) AS h FROM tk),
bits AS (
  SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h CROSS JOIN generate_series(0, 31) AS t(j) GROUP BY doc_id, j)
SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::UBIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from schema_infer_plugin_spark.datapipe import simhash, simhash_candidate_pairs

    sim = simhash(_mutated_corpus(spark, sf_dir), "doc_id", "text")
    return simhash_candidate_pairs(sim, "doc_id", max_hamming=3, n_bands=4)


ORACLE_SIMHASH_PAIRS = rf"""
WITH {_CORPUS_CTE},
tk AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM corpus),
h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 8) AS UBIGINT) AS h FROM tk),
bits AS (
  SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h CROSS JOIN generate_series(0, 31) AS t(j) GROUP BY doc_id, j),
sim AS (SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::UBIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id),
banded AS (SELECT doc_id, simhash, blk, (simhash >> (blk*8)) & 255 AS blk_val
           FROM sim CROSS JOIN generate_series(0, 3) AS t(blk))
SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
       CAST(bit_count(xor(l.simhash::UBIGINT, r.simhash::UBIGINT)) AS INT) AS hamming
FROM banded l JOIN banded r ON l.blk = r.blk AND l.blk_val = r.blk_val AND l.doc_id < r.doc_id
WHERE bit_count(xor(l.simhash::UBIGINT, r.simhash::UBIGINT)) <= 3
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact UNGUARDED inverted-index join (max_shingle_freq=None is the
    documented opt-in; the guard defaults ON since r3) — this oracle models
    the no-cut semantics, the _guarded twin exercises the cut."""
    from schema_infer_plugin_spark.datapipe import ngram_jaccard_pairs

    p = ngram_jaccard_pairs(
        _mutated_corpus(spark, sf_dir), "doc_id", "text", shingle_k=3,
        min_jaccard=0.5, max_shingle_freq=None,
    )
    return p.select("id_a", "id_b", F.round("jaccard", 6).cast("double").alias("jaccard"))


#: A "viral" phrase shared by every even doc_id — the stop-shingle hazard:
#: its 3-gram shingles are held by ~330 docs, so an unguarded inverted-index
#: join would put all of them in one reducer pair-explosion.
_VIRAL_SUFFIX = " like and subscribe now"


def q_ngram_jaccard_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ngram_jaccard_pairs WITH the max_shingle_freq stop-shingle guard
    exercised: shingles shared by more than 50 docs (the injected viral
    phrase) are dropped before the self-join (datapipe/dedup.py)."""
    from schema_infer_plugin_spark.datapipe import ngram_jaccard_pairs

    viral = _mutated_corpus(spark, sf_dir).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 2 == 0, F.concat(F.col("text"), F.lit(_VIRAL_SUFFIX))
        ).otherwise(F.col("text")),
    )
    p = ngram_jaccard_pairs(
        viral, "doc_id", "text", shingle_k=3, min_jaccard=0.5, max_shingle_freq=50
    )
    return p.select("id_a", "id_b", F.round("jaccard", 6).cast("double").alias("jaccard"))


ORACLE_NGRAM_JACCARD_GUARDED = rf"""
WITH {_CORPUS_CTE.replace("corpus AS (", "corpus0 AS (", 1)},
corpus AS (SELECT doc_id,
                  CASE WHEN doc_id % 2 = 0 THEN text || '{_VIRAL_SUFFIX}' ELSE text END AS text
           FROM corpus0),
toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM corpus),
sh AS (SELECT doc_id,
              unnest(list_distinct(list_transform(generate_series(1, greatest(len(tk)-2, 1)),
                                                  i -> array_to_string(tk[i:i+2], ' ')))) AS sh
       FROM toks),
ok AS (SELECT sh FROM (SELECT sh, count(*) AS f FROM sh GROUP BY sh) WHERE f <= 50),
shf AS (SELECT s.doc_id, s.sh FROM sh s JOIN ok ON s.sh = ok.sh),
sizes AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
          FROM shf a JOIN shf b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
SELECT id_a, id_b, jaccard FROM (
  SELECT id_a, id_b,
         CAST(round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS DOUBLE) AS jaccard
  FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
) WHERE jaccard >= 0.5
"""


ORACLE_NGRAM_JACCARD = rf"""
WITH {_CORPUS_CTE},
toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM corpus),
sh AS (SELECT doc_id,
              unnest(list_distinct(list_transform(generate_series(1, greatest(len(tk)-2, 1)),
                                                  i -> array_to_string(tk[i:i+2], ' ')))) AS sh
       FROM toks),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
SELECT id_a, id_b, jaccard FROM (
  SELECT id_a, id_b,
         CAST(round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS DOUBLE) AS jaccard
  FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
) WHERE jaccard >= 0.5
"""

_DUCK_COS = (
    "list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
    "(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
    "sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
)


def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from schema_infer_plugin_spark.datapipe import ann_bruteforce_topk

    emb = _fan(spark, load_table(spark, sf_dir, "embeddings"))
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    return ann_bruteforce_topk(emb, qs, k=3)


ORACLE_ANN_BRUTEFORCE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
scored AS (
  SELECT query_id, c.vec_id AS neighbor_id,
         CAST(round({_DUCK_COS.format(a="qv", b="c.embedding")}, 6) AS DOUBLE) AS cosine
  FROM q JOIN embeddings c ON c.vec_id != q.query_id),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
           FROM scored)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rank FROM ranked WHERE rnk <= 3
"""


def q_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k over an int8-QUANTIZED corpus (functions/vectors.quantize_
    embedding): per-vector affine [lo, step, q..255] — 1 byte/component
    instead of 4, the storage/shuffle lever for 100 TB embedding corpora.
    The whole quantize→dequantize→cosine chain is value-checked against
    DuckDB (floor(x+0.5) rounding: the engines' round() tie rules differ)."""
    from schema_infer_plugin_spark.datapipe import ann_bruteforce_topk
    from schema_infer_plugin_spark.functions.vectors import (
        dequantize_embedding,
        quantize_embedding,
    )

    emb = _fan(spark, load_table(spark, sf_dir, "embeddings"))
    deq = emb.select(
        "vec_id",
        dequantize_embedding(quantize_embedding(F.col("embedding"))).alias("embedding"),
    )
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    return ann_bruteforce_topk(deq, qs, k=3)


ORACLE_ANN_QUANTIZED = f"""
WITH dq AS (
  SELECT vec_id,
         list_min(embedding::DOUBLE[]) AS lo,
         (list_max(embedding::DOUBLE[]) - list_min(embedding::DOUBLE[])) / 255.0 AS step,
         embedding
  FROM embeddings),
dqv AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
           x -> lo + (CASE WHEN step > 0
                           THEN greatest(0.0, least(255.0, floor((x - lo) / step + 0.5)))
                           ELSE 0.0 END) * step) AS emb
  FROM dq),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
scored AS (
  SELECT query_id, c.vec_id AS neighbor_id,
         CAST(round({_DUCK_COS.format(a="qv", b="c.emb")}, 6) AS DOUBLE) AS cosine
  FROM q JOIN dqv c ON c.vec_id != q.query_id),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
           FROM scored)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rank FROM ranked WHERE rnk <= 3
"""


_EMB_DIM = 64  # testdata embeddings dimensionality (TESTDATA.md)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs embedding near-dup — n_planes=0 is an EXPLICIT opt-in
    (O(n²); the verifier for the LSH path, test scale only). The production
    path is ``dedup_embedding_lsh`` below."""
    from schema_infer_plugin_spark.datapipe.dedup import embedding_neardup_pairs

    emb = _fan(spark, load_table(spark, sf_dir, "embeddings"))
    out = embedding_neardup_pairs(emb, "vec_id", "embedding", min_cosine=0.4, n_planes=0)
    return out.select(
        "id_a", "id_b", F.round("cosine", 6).cast("double").alias("cosine")
    )


def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB embedding-dedup path: hyperplane-LSH bucketing (default
    n_planes), candidate pairs from a bucket equi-join only. dim passed from
    table metadata — no driver-side probe."""
    from schema_infer_plugin_spark.datapipe.dedup import embedding_neardup_pairs

    emb = _fan(spark, load_table(spark, sf_dir, "embeddings"))
    out = embedding_neardup_pairs(
        emb, "vec_id", "embedding", min_cosine=0.4, n_planes=6, dim=_EMB_DIM, seed=42
    )
    return out.select(
        "id_a", "id_b", F.round("cosine", 6).cast("double").alias("cosine")
    )


def q_vector_sanity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column sanity validation (checks/vector_sanity.py): NULL /
    wrong-dim / NaN / Inf / zero-norm vectors as typed violation rows — the
    defects every downstream vector operator silently assumes away. The clean
    sandbox table is deterministically corrupted in-query (the
    _mutated_corpus pattern) so every rule fires; the oracle mirrors the
    CASE-priority mutation arithmetic exactly. One scan, zero exchanges,
    output rows ∝ violations."""
    from schema_infer_plugin_spark.checks.vector_sanity import (
        vector_sanity_violations,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    vid = F.col("vec_id")
    nan = F.lit(float("nan")).cast("float")
    inf = F.lit(float("inf")).cast("float")
    corrupted = emb.select(
        "vec_id",
        F.when(vid % 97 == 0, F.lit(None).cast("array<float>"))
        .when(vid % 89 == 0, F.slice(v, 1, _EMB_DIM - 3))
        .when(vid % 83 == 0, F.concat(F.array(nan), F.slice(v, 2, _EMB_DIM - 1)))
        .when(
            vid % 79 == 0,
            F.concat(F.slice(v, 1, 1), F.array(inf), F.slice(v, 3, _EMB_DIM - 2)),
        )
        .when(vid % 73 == 0, F.transform(v, lambda x: F.lit(0.0).cast("float")))
        .when(
            vid % 71 == 0,
            F.concat(
                F.slice(v, 1, 2),
                F.array(F.lit(None).cast("float")),
                F.slice(v, 4, _EMB_DIM - 3),
            ),
        )
        .otherwise(v)
        .alias("embedding"),
    )
    return vector_sanity_violations(corrupted, "vec_id", "embedding", dim=_EMB_DIM)


ORACLE_VECTOR_SANITY = f"""
WITH corrupted AS (
  SELECT vec_id,
    CASE
      WHEN vec_id % 97 = 0 THEN NULL
      WHEN vec_id % 89 = 0 THEN embedding[1:{_EMB_DIM - 3}]
      WHEN vec_id % 83 = 0 THEN ['NaN'::FLOAT] || embedding[2:]
      WHEN vec_id % 79 = 0 THEN embedding[1:1] || ['Infinity'::FLOAT] || embedding[3:]
      WHEN vec_id % 73 = 0 THEN list_transform(embedding, x -> 0.0::FLOAT)
      WHEN vec_id % 71 = 0 THEN embedding[1:2] || [NULL::FLOAT] || embedding[4:]
      ELSE embedding
    END AS v
  FROM embeddings
), flags AS (
  SELECT vec_id, v,
    v IS NULL AS is_null,
    v IS NOT NULL AND len(v) <> {_EMB_DIM} AS wrong_dim,
    v IS NOT NULL AND len(list_filter(v, x -> x IS NULL)) > 0 AS has_null_elem,
    v IS NOT NULL AND len(list_filter(v, x -> isnan(x))) > 0 AS has_nan,
    v IS NOT NULL AND len(list_filter(v, x -> isinf(x))) > 0 AS has_inf
  FROM corrupted
)
SELECT 'vec_null' AS check_name, vec_id AS id, 'embedding' AS col_name,
       'NULL' AS observed, 'NOT NULL' AS expected FROM flags WHERE is_null
UNION ALL
SELECT 'vec_dim', vec_id, 'embedding', CAST(len(v) AS VARCHAR), '{_EMB_DIM}'
FROM flags WHERE wrong_dim
UNION ALL
SELECT 'vec_null_element', vec_id, 'embedding',
       CAST(len(list_filter(v, x -> x IS NULL)) AS VARCHAR), '0 NULL elements'
FROM flags WHERE has_null_elem
UNION ALL
SELECT 'vec_nan', vec_id, 'embedding',
       CAST(len(list_filter(v, x -> isnan(x))) AS VARCHAR), '0 NaN elements'
FROM flags WHERE has_nan
UNION ALL
SELECT 'vec_inf', vec_id, 'embedding',
       CAST(len(list_filter(v, x -> isinf(x))) AS VARCHAR), '0 Inf elements'
FROM flags WHERE has_inf
UNION ALL
SELECT 'vec_zero', vec_id, 'embedding', '0.0', 'norm > 0'
FROM flags
WHERE v IS NOT NULL AND len(v) = {_EMB_DIM} AND NOT has_null_elem
  AND NOT has_nan AND NOT has_inf
  AND list_sum(list_transform(v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0.0
"""


def _duck_bucket_terms(n_planes: int, seed: int) -> str:
    """Hyperplane-bucket expression with a {v} placeholder — the md5-derived
    plane components inlined as literals (datapipe/ann.hyperplane_components),
    so DuckDB reproduces the exact bucket construction."""
    from schema_infer_plugin_spark.datapipe.ann import hyperplane_components

    planes = hyperplane_components(dim=_EMB_DIM, n_planes=n_planes, seed=seed)
    return " + ".join(
        f"CASE WHEN list_dot_product({{v}}::DOUBLE[], "
        f"[{', '.join(f'{c}.0' for c in comps)}]::DOUBLE[]) >= 0 THEN {1 << p} ELSE 0 END"
        for p, comps in enumerate(planes)
    )


def _oracle_embedding_lsh() -> str:
    terms = _duck_bucket_terms(n_planes=6, seed=42)
    return f"""
WITH b AS (SELECT vec_id, embedding, {terms.format(v="embedding")} AS bkt FROM embeddings)
SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
       CAST(round({_DUCK_COS.format(a="a.embedding", b="b2.embedding")}, 6) AS DOUBLE) AS cosine
FROM b a JOIN b b2 ON a.bkt = b2.bkt AND a.vec_id < b2.vec_id
WHERE {_DUCK_COS.format(a="a.embedding", b="b2.embedding")} >= 0.4
"""


ORACLE_EMBEDDING_NEARDUP = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       CAST(round({_DUCK_COS.format(a="a.embedding", b="b.embedding")}, 6) AS DOUBLE) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_DUCK_COS.format(a="a.embedding", b="b.embedding")} >= 0.4
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from schema_infer_plugin_spark.datapipe import ann_lsh_topk

    emb = _fan(spark, load_table(spark, sf_dir, "embeddings"))
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    return ann_lsh_topk(emb, qs, k=3, n_planes=6, dim=_EMB_DIM, seed=42)


def _oracle_ann_lsh() -> str:
    """Single-table LSH top-k oracle with inlined hyperplane literals."""
    terms = _duck_bucket_terms(n_planes=6, seed=42)
    return f"""
WITH b AS (SELECT vec_id, embedding, {terms.format(v="embedding")} AS bkt FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qv, bkt FROM b WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         CAST(round({_DUCK_COS.format(a="q.qv", b="c.embedding")}, 6) AS DOUBLE) AS cosine
  FROM q JOIN b c ON c.bkt = q.bkt AND c.vec_id != q.query_id),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
           FROM scored)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rank FROM ranked WHERE rnk <= 3
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: 8 md5-sampled centroids, queries probe their 2 nearest
    cells (datapipe/ann.ann_ivf_topk) — the data-adaptive scale path next to
    the data-independent hyperplane LSH."""
    from schema_infer_plugin_spark.datapipe import ann_ivf_topk

    emb = _fan(spark, load_table(spark, sf_dir, "embeddings"))
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    return ann_ivf_topk(emb, qs, k=3, n_cells=8, n_probe=2)


#: Oracle recomputes the identical centroid selection (ORDER BY md5(id)),
#: cell assignment (argmax cosine, ties to lowest centroid index) and
#: n_probe=2 probing in SQL — no literals needed, the "index" derives from
#: the same table both engines read.
ORACLE_ANN_IVF = f"""
WITH cent AS (
  SELECT cv, row_number() OVER (ORDER BY r, vid) - 1 AS cidx
  FROM (SELECT embedding AS cv, md5(CAST(vec_id AS VARCHAR)) AS r, vec_id AS vid
        FROM embeddings ORDER BY r, vid LIMIT 8)),
cscore AS (
  SELECT e.vec_id, e.embedding, c.cidx,
         {_DUCK_COS.format(a="e.embedding", b="c.cv")} AS s
  FROM embeddings e CROSS JOIN cent c),
assign AS (
  SELECT vec_id, embedding, cidx AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cidx ASC) AS rn
    FROM cscore) WHERE rn = 1),
probes AS (
  SELECT vec_id AS query_id, embedding AS qv, cidx AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cidx ASC) AS rn
    FROM cscore WHERE vec_id % 50 = 0) WHERE rn <= 2),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         CAST(round({_DUCK_COS.format(a="p.qv", b="a.embedding")}, 6) AS DOUBLE) AS cosine
  FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id != p.query_id),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
           FROM scored)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rank FROM ranked WHERE rnk <= 3
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style clustered dedup (datapipe/dedup.semantic_dedup_pairs):
    embeddings → 8 IVF cells (md5-sampled centroids) → cosine pairs scored
    only within a cell — the data-adaptive sibling of the hyperplane-LSH
    path, per-cell work bounded by (n/n_cells)²."""
    from schema_infer_plugin_spark.datapipe import semantic_dedup_pairs

    emb = _fan(spark, load_table(spark, sf_dir, "embeddings"))
    return semantic_dedup_pairs(
        emb, "vec_id", "embedding", min_cosine=0.4, n_cells=8
    )


#: same centroid-selection / cell-assignment CTEs as ORACLE_ANN_IVF, then an
#: intra-cell pair join instead of the query-probe join
ORACLE_SEMANTIC_DEDUP = f"""
WITH cent AS (
  SELECT cv, row_number() OVER (ORDER BY r, vid) - 1 AS cidx
  FROM (SELECT embedding AS cv, md5(CAST(vec_id AS VARCHAR)) AS r, vec_id AS vid
        FROM embeddings ORDER BY r, vid LIMIT 8)),
cscore AS (
  SELECT e.vec_id, e.embedding, c.cidx,
         {{_cos}} AS s
  FROM embeddings e CROSS JOIN cent c),
assign AS (
  SELECT vec_id, embedding, CAST(cidx AS INT) AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cidx ASC) AS rn
    FROM cscore) WHERE rn = 1)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cell,
       CAST(round({{_pcos}}, 6) AS DOUBLE) AS cosine
FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
WHERE round({{_pcos}}, 6) >= 0.4
""".format(
    _cos=_DUCK_COS.format(a="e.embedding", b="c.cv"),
    _pcos=_DUCK_COS.format(a="a.embedding", b="b.embedding"),
)


def q_ann_lsh_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-amplified ANN: 3 independent hash tables of 8 planes each — higher
    per-table precision, recall recovered by the union (datapipe/ann.py)."""
    from schema_infer_plugin_spark.datapipe import ann_lsh_topk

    emb = _fan(spark, load_table(spark, sf_dir, "embeddings"))
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    return ann_lsh_topk(emb, qs, k=3, n_planes=8, n_tables=3, dim=_EMB_DIM, seed=42)


def _oracle_ann_lsh_multitable() -> str:
    """Multi-table oracle: candidate iff ANY of the 3 tables buckets corpus
    vector with the query (UNION of per-table equi-joins, then DISTINCT)."""
    from schema_infer_plugin_spark.datapipe.ann import table_seed

    branches = []
    for t in range(3):
        terms = _duck_bucket_terms(n_planes=8, seed=table_seed(42, t))
        branches.append(f"""
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.embedding AS qv, c.embedding AS cv
  FROM (SELECT vec_id, embedding, {terms.format(v="embedding")} AS bkt FROM embeddings WHERE vec_id % 50 = 0) q
  JOIN (SELECT vec_id, embedding, {terms.format(v="embedding")} AS bkt FROM embeddings) c
    ON c.bkt = q.bkt AND c.vec_id != q.vec_id""")
    union = " UNION ".join(branches)  # UNION (not ALL) dedups across tables
    return f"""
WITH cand AS ({union}),
scored AS (
  SELECT query_id, neighbor_id,
         CAST(round({_DUCK_COS.format(a="qv", b="cv")}, 6) AS DOUBLE) AS cosine
  FROM cand),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
           FROM scored)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rank FROM ranked WHERE rnk <= 3
"""


_EN_STOPS = "'the','a','of','and','to','in','is','it','that','for'"
_LANG_STOP_SQL = {
    "de": "'der','die','das','und','ist','nicht','ein','mit','auf','zu'",
    "en": _EN_STOPS,
    "es": "'el','la','los','y','es','un','una','por','con','para'",
    "fr": "'le','la','les','et','est','un','une','pour','dans','que'",
}
_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _duck_quality_formula(n_tokens: str, sraw: str, praw: str) -> str:
    """The quality-score formula as DuckDB SQL over caller-supplied
    sub-expressions — the ONE source for every oracle that embeds it
    (ORACLE_TEXT_QUALITY, ORACLE_CLEAN_CORPUS). Thresholds/weights mirror
    functions/textstats.quality_score — change them together."""
    return (
        f"(CASE WHEN {n_tokens} BETWEEN 5 AND 10000 THEN 0.5 ELSE 0.0 END)"
        f" + (CASE WHEN {sraw} >= 0.01 THEN 0.3 ELSE 0.0 END)"
        f" + (CASE WHEN {praw} > 0.2 THEN 0.0 ELSE 0.2 END)"
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from schema_infer_plugin_spark.datapipe import text_quality_table

    return text_quality_table(_fan(spark, load_table(spark, sf_dir, "documents")), "doc_id", "text")


ORACLE_TEXT_QUALITY = rf"""
WITH t AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
m AS (
  SELECT doc_id, text, tk,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(tk) END AS BIGINT) AS n_tokens,
         CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT) AS n_bpe_tokens,
         CAST(length(text) AS BIGINT) AS n_chars_obs,
         CASE WHEN length(text) > 0
              THEN CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) / length(text)
              ELSE 0.0 END AS praw,
         CASE WHEN len(tk) > 0
              THEN CAST(len(list_filter(tk, x -> lower(x) IN ({_EN_STOPS}))) AS DOUBLE) / len(tk)
              ELSE 0.0 END AS sraw
  FROM t)
SELECT doc_id, n_tokens, n_bpe_tokens, n_chars_obs,
       CAST(round(praw, 6) AS DOUBLE) AS punct_ratio,
       CAST(round(sraw, 6) AS DOUBLE) AS stopword_ratio,
       CAST(round({_duck_quality_formula('n_tokens', 'sraw', 'praw')}, 6) AS DOUBLE) AS quality,
       md5(array_to_string(list_sort(list_distinct(list_transform(tk, x -> lower(x)))), ' ')) AS fingerprint
FROM m
"""


#: Training-mixture rates over the transcripts role strata — per-stratum
#: deterministic keep fraction (sources/sampling.mixture_sample).
_MIXTURE_RATES = {"user": 1.0, "assistant": 0.25, "tool": 0.05}
_MIXTURE_WIDTH = 4


def q_fixed_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum sample (sources/sampling.fixed_k_sample): 20
    documents per language ranked by md5(lang:doc_id) — the fixed-size eval
    sampler a rate can't provide; deterministic at any parallelism and
    identical in the oracle."""
    from schema_infer_plugin_spark.sources.sampling import fixed_k_sample

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return fixed_k_sample(d, "lang", ["doc_id"], k=20)


ORACLE_FIXED_K = """
SELECT doc_id, lang, CAST(rnk AS INT) AS sample_rank FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(concat_ws(':', lang, CAST(doc_id AS STRING))), doc_id
         ) AS rnk
  FROM documents)
WHERE rnk <= 20
"""


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from schema_infer_plugin_spark.sources.sampling import mixture_sample

    t = _transcripts(spark, sf_dir).select("conv_id", "turn_idx", "role")
    return mixture_sample(
        t, "role", _MIXTURE_RATES, ["conv_id", "turn_idx"], default_rate=0.0,
        width=_MIXTURE_WIDTH,
    )


def _oracle_mixture() -> str:
    buckets = 16**_MIXTURE_WIDTH
    w = _MIXTURE_WIDTH + 1

    def hexcap(rate: float) -> str:
        return format(min(max(int(rate * buckets), 0), buckets), f"0{w}x")

    whens = " ".join(
        f"WHEN role = '{s}' THEN '{hexcap(r)}'"
        for s, r in sorted(_MIXTURE_RATES.items())
    )
    return oracle_cte(
        f"""
SELECT conv_id, turn_idx, role FROM transcripts
WHERE concat('0', substr(md5(concat_ws(':', role, conv_id, CAST(turn_idx AS STRING))), 1, {_MIXTURE_WIDTH}))
      < CASE {whens} ELSE '{hexcap(0.0)}' END
"""
    )


def q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staged training-corpus funnel (datapipe/pipeline.clean_corpus):
    quality gate → exact dedup (keep min id) → MinHash-LSH near-dup removal
    (drop the larger id of each candidate pair), over the mutated corpus."""
    from schema_infer_plugin_spark.datapipe import clean_corpus

    return clean_corpus(
        _mutated_corpus(spark, sf_dir), "doc_id", "text",
        min_quality=0.5, num_hashes=16, bands=4, shingle_k=3, min_est_jaccard=0.5,
    )


#: quality expression shared with ORACLE_TEXT_QUALITY (same formula text)
_TOKS_EXPR = r"regexp_split_to_array(trim(text), '\s+')"
_NTOK_EXPR = f"(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({_TOKS_EXPR}) END)"
_SRAW_EXPR = (
    f"(CASE WHEN len({_TOKS_EXPR}) > 0 THEN "
    f"CAST(len(list_filter({_TOKS_EXPR}, x -> lower(x) IN ({_EN_STOPS}))) AS DOUBLE)"
    f" / len({_TOKS_EXPR}) ELSE 0.0 END)"
)
_PRAW_EXPR = (
    r"(CASE WHEN length(text) > 0 THEN "
    r"CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) / length(text)"
    r" ELSE 0.0 END)"
)
_DUCK_QUALITY = _duck_quality_formula(_NTOK_EXPR, _SRAW_EXPR, _PRAW_EXPR)

ORACLE_CLEAN_CORPUS = rf"""
WITH {_CORPUS_CTE},
q AS (SELECT doc_id AS _id, text AS _text,
             CAST(round({_DUCK_QUALITY}, 6) AS DOUBLE) AS quality
      FROM corpus
      WHERE CAST(round({_DUCK_QUALITY}, 6) AS DOUBLE) >= 0.5),
uniq AS (SELECT _id, _text, quality FROM (
           SELECT *, row_number() OVER (PARTITION BY md5(_text) ORDER BY _id) AS rn FROM q)
         WHERE rn = 1),
toks AS (SELECT _id, regexp_split_to_array(trim(_text), '\s+') AS tk FROM uniq),
sh AS (SELECT _id,
              unnest(list_distinct(list_transform(generate_series(1, greatest(len(tk)-2, 1)),
                                                  i -> array_to_string(tk[i:i+2], ' ')))) AS sh
       FROM toks),
hh AS (SELECT _id,
              CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT) % 2147483647 AS h1,
              CAST(concat('0x', substr(md5(sh), 9, 8)) AS BIGINT) % 2147483647 AS h2
       FROM sh),
sig AS (SELECT _id, [{", ".join(f"min((h1 + {i} * h2) % 2147483647)" for i in range(16))}] AS sig
        FROM hh GROUP BY _id),
banded AS (SELECT _id, sig, b, md5(array_to_string(sig[b*4+1:b*4+4], '|')) AS bh
           FROM sig CROSS JOIN generate_series(0, 3) AS t(b)),
pairs AS (SELECT DISTINCT l._id AS id_a, r._id AS id_b, l.sig AS sa, r.sig AS sb
          FROM banded l JOIN banded r ON l.b = r.b AND l.bh = r.bh AND l._id < r._id),
drops AS (SELECT DISTINCT id_b FROM (
            SELECT id_a, id_b,
                   CAST(len(list_filter(generate_series(1, 16), i -> sa[i] = sb[i])) AS DOUBLE)/16 AS ej
            FROM pairs) WHERE ej >= 0.5)
SELECT _id AS doc_id, _text AS text, quality FROM uniq
WHERE _id NOT IN (SELECT id_b FROM drops)
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from schema_infer_plugin_spark.datapipe import language_id_table

    return language_id_table(_fan(spark, load_table(spark, sf_dir, "documents")), "doc_id", "text")


_LANG_SCORE_SQL = ",\n".join(
    f"CASE WHEN len(tk) > 0 THEN CAST(len(list_filter(tk, x -> lower(x) IN ({stops}))) AS DOUBLE) / len(tk) ELSE 0.0 END AS raw_{lang}"
    for lang, stops in _LANG_STOP_SQL.items()
)

ORACLE_LANG_ID = rf"""
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
s AS (SELECT doc_id, {_LANG_SCORE_SQL} FROM t),
mx AS (SELECT *, greatest(raw_de, raw_en, raw_es, raw_fr) AS m FROM s)
SELECT doc_id,
       CASE WHEN m <= 0 THEN 'und'
            WHEN raw_de = m THEN 'de' WHEN raw_en = m THEN 'en'
            WHEN raw_es = m THEN 'es' ELSE 'fr' END AS pred_lang,
       CAST(round(raw_de, 6) AS DOUBLE) AS score_de,
       CAST(round(raw_en, 6) AS DOUBLE) AS score_en,
       CAST(round(raw_es, 6) AS DOUBLE) AS score_es,
       CAST(round(raw_fr, 6) AS DOUBLE) AS score_fr
FROM mx
"""


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring (datapipe/text.unigram_logprob_scores):
    per-doc mean unigram log-prob under the corpus's own distribution."""
    from schema_infer_plugin_spark.datapipe.text import unigram_logprob_scores

    return unigram_logprob_scores(
        _fan(spark, load_table(spark, sf_dir, "documents")), "doc_id", "text"
    )


ORACLE_UNIGRAM_LOGPROB = r"""
WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok0 FROM documents),
t2 AS (SELECT doc_id, lower(tok0) AS tok FROM toks WHERE length(tok0) > 0),
vocab AS (SELECT tok, count(*) AS cnt FROM t2 GROUP BY tok),
tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM vocab),
lp AS (SELECT tok, ln(CAST(cnt AS DOUBLE) / total) AS lp FROM vocab CROSS JOIN tot)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(round(avg(lp), 6) AS DOUBLE) AS mean_logprob
FROM t2 JOIN lp USING (tok) GROUP BY doc_id
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repetition quality rules (datapipe/text.repetition_stats):
    duplicate-line, duplicate-bigram and top-bigram fractions."""
    from schema_infer_plugin_spark.datapipe.text import repetition_stats

    return repetition_stats(
        _fan(spark, load_table(spark, sf_dir, "documents")), "doc_id", "text"
    )


ORACLE_REPETITION = r"""
WITH t AS (SELECT doc_id,
                  list_filter(string_split(text, chr(10)), x -> length(trim(x)) > 0) AS lines,
                  regexp_split_to_array(trim(text), '\s+') AS tk
           FROM documents),
b AS (SELECT doc_id, lines,
             CASE WHEN len(tk) >= 2
                  THEN list_transform(generate_series(1, greatest(len(tk)-1, 1)),
                                      i -> array_to_string(tk[i:i+1], ' '))
                  ELSE CAST([] AS VARCHAR[]) END AS bg
      FROM t)
SELECT doc_id,
  CAST(round(CASE WHEN len(lines) > 0
                  THEN 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines)
                  ELSE 0.0 END, 6) AS DOUBLE) AS dup_line_frac,
  CAST(round(CASE WHEN len(bg) > 0
                  THEN 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
                  ELSE 0.0 END, 6) AS DOUBLE) AS dup_bigram_frac,
  CAST(round(CASE WHEN len(bg) > 0
                  THEN CAST(list_max(list_transform(list_distinct(bg),
                           x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE) / len(bg)
                  ELSE 0.0 END, 6) AS DOUBLE) AS top_bigram_frac
FROM b
"""


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (datapipe/text.contamination_pairs): docs
    sharing ≥2 winnowing fingerprints with the benchmark subset (every 25th
    doc); identity pairs excluded — the interesting hits are leaks ACROSS
    documents. Since r3 the default fingerprints the FULL text in overlapping
    chunks (chunk_chars=256 here so sandbox docs actually span several
    chunks), not just a 200-char head — a leak at char 500 is caught; the
    oracle mirrors the chunking exactly."""
    from schema_infer_plugin_spark.datapipe.text import contamination_pairs

    docs = _fan(spark, load_table(spark, sf_dir, "documents"))
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    return contamination_pairs(docs, bench, min_shared=2, chunk_chars=256).filter(
        F.col("doc_id") != F.col("bench_id")
    )


# full-text chunked winnowing (k=5, w=4 → overlap 7): chunk j covers
# [j*256+1, j*256+263]; per-chunk hash/min arrays mirror textstats, then the
# doc's fingerprint set is the distinct union over chunks
ORACLE_CONTAMINATION = """
WITH idx AS (
  SELECT doc_id, text,
         unnest(generate_series(0, greatest(CAST(ceil(length(text) / 256.0) AS INT), 1) - 1)) AS j
  FROM documents),
chunks AS (SELECT doc_id, j, substr(text, CAST(j*256 + 1 AS INT), 263) AS c FROM idx),
hs AS (SELECT doc_id, j,
              list_transform(generate_series(1, greatest(length(c) - 4, 1)),
                             i -> CAST(concat('0x', substr(md5(substr(c, i, 5)), 1, 8)) AS BIGINT)) AS h
       FROM chunks),
mins AS (SELECT doc_id, j,
                list_transform(generate_series(1, greatest(len(h) - 3, 1)),
                               i -> list_min(h[i:i+3])) AS m
         FROM hs),
fps AS (SELECT DISTINCT doc_id, unnest(m) AS fp FROM mins),
bfps AS (SELECT doc_id AS bench_id, fp FROM fps WHERE doc_id % 25 = 0)
SELECT f.doc_id, b.bench_id, CAST(count(*) AS BIGINT) AS shared_fingerprints
FROM fps f JOIN bfps b ON f.fp = b.fp AND f.doc_id != b.bench_id
GROUP BY f.doc_id, b.bench_id
HAVING count(*) >= 2
"""


#: PII-injected corpus: deterministic spans appended by doc_id residue, the
#: IDENTICAL construction in Spark and the oracle.
_PII_SUFFIXES = [
    (5, " contact bob.smith+spam@example-mail.com now"),
    (7, " see https://example.org/a?user=1&x=2 there"),
    (11, " call +1 (415) 555-0137 today"),
]


def _pii_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _fan(spark, load_table(spark, sf_dir, "documents")).select("doc_id", "text")
    c = F.col("text")
    for mod, suffix in _PII_SUFFIXES:
        c = F.when(F.col("doc_id") % mod == 0, F.concat(c, F.lit(suffix))).otherwise(c)
    return d.select("doc_id", c.alias("text"))


# each Spark F.when wraps the previous expression, so a doc matching several
# residues gets ALL its suffixes appended in order — the SQL mirror is
# sequential concatenation of per-residue CASEs, not one CASE
_PII_TEXT_SQL = "text" + "".join(
    f" || (CASE WHEN doc_id % {mod} = 0 THEN '{suffix}' ELSE '' END)"
    for mod, suffix in _PII_SUFFIXES
)


def q_pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII hit counts per doc (datapipe/text.pii_stats) over a corpus with
    deterministic injected emails/URLs/phones."""
    from schema_infer_plugin_spark.datapipe.text import pii_stats

    return pii_stats(_pii_corpus(spark, sf_dir), "doc_id", "text")


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-placeholder PII scrubbing (datapipe/text.redact_pii): the full
    redacted text is value-compared, so both engines' regex semantics must
    agree byte-for-byte."""
    from schema_infer_plugin_spark.datapipe.text import redact_pii

    return redact_pii(_pii_corpus(spark, sf_dir), "text").select("doc_id", "text")


def _oracle_pii() -> tuple[str, str]:
    from schema_infer_plugin_spark.datapipe.text import PII_PATTERNS

    def esc(p: str) -> str:
        # backslashes are literal inside DuckDB single-quoted strings; only
        # quotes need doubling (the patterns contain none — belt and braces)
        return p.replace("'", "''")

    corpus = f"WITH corpus AS (SELECT doc_id, {_PII_TEXT_SQL} AS text FROM documents)"
    counts = f"""
{corpus}
SELECT doc_id,
       CAST(coalesce(len(regexp_extract_all(text, '{esc(PII_PATTERNS["email"])}')), 0) AS BIGINT) AS n_email,
       CAST(coalesce(len(regexp_extract_all(text, '{esc(PII_PATTERNS["url"])}')), 0) AS BIGINT) AS n_url,
       CAST(coalesce(len(regexp_extract_all(text, '{esc(PII_PATTERNS["phone"])}')), 0) AS BIGINT) AS n_phone,
       (coalesce(len(regexp_extract_all(text, '{esc(PII_PATTERNS["email"])}')), 0)
        + coalesce(len(regexp_extract_all(text, '{esc(PII_PATTERNS["url"])}')), 0)
        + coalesce(len(regexp_extract_all(text, '{esc(PII_PATTERNS["phone"])}')), 0)) > 0 AS has_pii
FROM corpus
"""
    redacted = f"""
{corpus}
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '{esc(PII_PATTERNS["email"])}', '<EMAIL>', 'g'),
           '{esc(PII_PATTERNS["url"])}', '<URL>', 'g'),
         '{esc(PII_PATTERNS["phone"])}', '<PHONE>', 'g') AS text
FROM corpus
"""
    return counts, redacted


_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (sources/sampling.split_assign):
    stable, engine-portable membership — no row can migrate between splits."""
    from schema_infer_plugin_spark.sources.sampling import split_assign

    t = _transcripts(spark, sf_dir).select("conv_id", "turn_idx")
    return split_assign(t, ["conv_id", "turn_idx"], _SPLIT_WEIGHTS, width=4)


def _oracle_split() -> str:
    buckets = 16**4
    names = sorted(_SPLIT_WEIGHTS)
    acc, whens = 0.0, []
    for name in names[:-1]:
        acc += _SPLIT_WEIGHTS[name]
        bound = format(min(int(acc * buckets), buckets - 1), "04x")
        whens.append((name, bound))
    case = " ".join(
        f"WHEN substr(md5(concat_ws(':', conv_id, CAST(turn_idx AS STRING))), 1, 4) < '{b}' THEN '{n}'"
        for n, b in whens
    )
    return oracle_cte(
        f"""
SELECT conv_id, turn_idx, CASE {case} ELSE '{names[-1]}' END AS split
FROM transcripts
"""
    )


def q_split_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware split (sources/sampling.split_assign_clustered): the
    duplicate CLUSTER's md5 bucket decides the split, so a doc and its
    near-copies can never straddle train/test — closes the contamination
    path per-doc splitting leaves open."""
    from schema_infer_plugin_spark.datapipe import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from schema_infer_plugin_spark.sources.sampling import split_assign_clustered

    corpus = _mutated_corpus(spark, sf_dir)
    sig = minhash_signatures(corpus, "doc_id", "text", num_hashes=16, shingle_k=3)
    pairs = lsh_candidate_pairs(sig, "doc_id", bands=4, min_est_jaccard=0.5)
    return split_assign_clustered(
        corpus.select("doc_id"), pairs, "doc_id", _SPLIT_WEIGHTS, width=4
    )


def _oracle_split_clustered() -> str:
    buckets = 16**4
    names = sorted(_SPLIT_WEIGHTS)
    acc, whens = 0.0, []
    for name in names[:-1]:
        acc += _SPLIT_WEIGHTS[name]
        whens.append((name, format(min(int(acc * buckets), buckets - 1), "04x")))
    case = " ".join(
        f"WHEN substr(md5(CAST(component AS STRING)), 1, 4) < '{b}' THEN '{n}'"
        for n, b in whens
    )
    return rf"""
WITH RECURSIVE {_CORPUS_CTE},
{_MINHASH_CAND_CTES},
edges AS (SELECT id_a AS s, id_b AS d FROM cand UNION SELECT id_b, id_a FROM cand),
reach AS (SELECT s, d FROM edges
          UNION
          SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
comp AS (SELECT s AS doc_id, least(s, min(d)) AS component FROM reach GROUP BY s),
lab AS (SELECT c.doc_id, CAST(coalesce(p.component, c.doc_id) AS BIGINT) AS component
        FROM corpus c LEFT JOIN comp p ON c.doc_id = p.doc_id)
SELECT doc_id, component, CASE {case} ELSE '{names[-1]}' END AS split
FROM lab
"""


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split near-dup leakage matrix (sources/sampling.
    split_leakage_report) over the NAIVE per-doc split — the off-diagonal
    rows quantify exactly the contamination path split_assign_clustered
    closes (pair joins ∝ |pairs|, never corpus²)."""
    from schema_infer_plugin_spark.datapipe import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from schema_infer_plugin_spark.sources.sampling import (
        split_assign,
        split_leakage_report,
    )

    corpus = _mutated_corpus(spark, sf_dir)
    sig = minhash_signatures(corpus, "doc_id", "text", num_hashes=16, shingle_k=3)
    pairs = lsh_candidate_pairs(sig, "doc_id", bands=4, min_est_jaccard=0.5)
    assigned = split_assign(corpus.select("doc_id"), ["doc_id"], _SPLIT_WEIGHTS, width=4)
    return split_leakage_report(assigned, pairs, "doc_id")


def _oracle_split_leakage() -> str:
    buckets = 16**4
    names = sorted(_SPLIT_WEIGHTS)
    acc, whens = 0.0, []
    for name in names[:-1]:
        acc += _SPLIT_WEIGHTS[name]
        whens.append((name, format(min(int(acc * buckets), buckets - 1), "04x")))
    case = " ".join(
        f"WHEN substr(md5(CAST(doc_id AS STRING)), 1, 4) < '{b}' THEN '{n}'"
        for n, b in whens
    )
    return rf"""
WITH {_CORPUS_CTE},
{_MINHASH_CAND_CTES},
splits AS (SELECT doc_id, CASE {case} ELSE '{names[-1]}' END AS split FROM corpus),
j AS (SELECT least(sa.split, sb.split) AS split_a, greatest(sa.split, sb.split) AS split_b
      FROM cand JOIN splits sa ON cand.id_a = sa.doc_id JOIN splits sb ON cand.id_b = sb.doc_id)
SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs, split_a <> split_b AS leaky
FROM j GROUP BY split_a, split_b
"""


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash (winnowing) document fingerprints over the first 200 chars
    of each document (functions/textstats.winnowed_fingerprints), exploded to
    (doc_id, fp) rows for the oracle compare."""
    from schema_infer_plugin_spark.functions.textstats import winnowed_fingerprints

    docs = _fan(spark, load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.substring("text", 1, 200).alias("head")
    )
    return docs.select(
        "doc_id", F.explode(winnowed_fingerprints(F.col("head"), k=5, w=4)).alias("fp")
    )


ORACLE_WINNOW = """
WITH heads AS (SELECT doc_id, substr(text, 1, 200) AS head FROM documents),
hs AS (SELECT doc_id,
              list_transform(generate_series(1, greatest(length(head) - 4, 1)),
                             i -> CAST(concat('0x', substr(md5(substr(head, i, 5)), 1, 8)) AS BIGINT)) AS h
       FROM heads),
mins AS (SELECT doc_id,
                list_transform(generate_series(1, greatest(len(h) - 3, 1)),
                               j -> list_min(h[j:j+3])) AS m
         FROM hs)
SELECT doc_id, unnest(list_sort(list_distinct(m))) AS fp FROM mins
"""


def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched binary feature extraction (mapInPandas). The decode step
    is dynamic Python by design (real media libs swap in), but the fake
    decoder's arithmetic (byte checksum mod 2^31, mean byte) IS expressible in
    SQL — so the oracle hash-checks row contents, not just the count."""
    from schema_infer_plugin_spark.datapipe import extract_binary_features, with_binary_payload

    docs = load_table(spark, sf_dir, "documents")
    out = extract_binary_features(with_binary_payload(docs, "doc_id", "text"))
    return out.select(
        "doc_id",
        "modality",
        "n_bytes",
        "checksum",
        F.round("feat_mean", 6).cast("double").alias("feat_mean"),
    )


# byte stream of the UTF-8 payload via hex-pair arithmetic — reproduces
# datapipe/multimodal._fake_decode_features exactly in DuckDB
ORACLE_MULTIMODAL = """
WITH b AS (SELECT doc_id, encode(text) AS p FROM documents),
m AS (SELECT doc_id, octet_length(p) AS n, hex(p) AS h FROM b),
s AS (SELECT doc_id, n,
             CASE WHEN n = 0 THEN 0
                  ELSE list_sum(list_transform(generate_series(1, n),
                       i -> CAST(concat('0x', substr(h, (i-1)*2+1, 2)) AS BIGINT))) END AS tot
      FROM m)
SELECT doc_id, 'image/fake' AS modality, CAST(n AS BIGINT) AS n_bytes,
       CAST(tot % 2147483648 AS BIGINT) AS checksum,
       CAST(round(CASE WHEN n = 0 THEN 0.0 ELSE CAST(tot AS DOUBLE) / n END, 6) AS DOUBLE) AS feat_mean
FROM s
"""


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched image-resize plumbing (fake decoder: truncate/zero-pad to
    8×8 bytes) — transform arithmetic value-checked in DuckDB."""
    from schema_infer_plugin_spark.datapipe import resize_images, with_binary_payload

    docs = load_table(spark, sf_dir, "documents")
    return resize_images(with_binary_payload(docs, "doc_id", "text"), out_w=8, out_h=8)


ORACLE_MULTIMODAL_RESIZE = """
WITH b AS (SELECT doc_id, encode(text) AS p FROM documents),
m AS (SELECT doc_id, least(octet_length(p), 64) AS k, hex(p) AS h FROM b)
SELECT doc_id, CAST(8 AS BIGINT) AS out_w, CAST(8 AS BIGINT) AS out_h,
       CAST(64 AS BIGINT) AS n_bytes_out,
       CAST((CASE WHEN k = 0 THEN 0
             ELSE list_sum(list_transform(generate_series(1, k),
                  i -> CAST(concat('0x', substr(h, (i-1)*2+1, 2)) AS BIGINT))) END)
            % 2147483648 AS BIGINT) AS checksum_out
FROM m
"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched frame sampling (fake decoder: payload as 4 equal byte
    slices, one output row per frame) — the 1→N fan-out a real video decode
    has; per-frame checksums value-checked in DuckDB."""
    from schema_infer_plugin_spark.datapipe import sample_frames, with_binary_payload

    docs = load_table(spark, sf_dir, "documents")
    return sample_frames(with_binary_payload(docs, "doc_id", "text"), n_frames=4)


ORACLE_MULTIMODAL_FRAMES = """
WITH b AS (SELECT doc_id, encode(text) AS p FROM documents),
m AS (SELECT doc_id, octet_length(p) AS n, hex(p) AS h FROM b WHERE octet_length(p) > 0),
s AS (SELECT doc_id, i, (i*n)//4 AS lo, ((i+1)*n)//4 AS hi, h
      FROM m CROSS JOIN generate_series(0, 3) AS t(i))
SELECT doc_id, CAST(i AS BIGINT) AS frame_idx, CAST(hi - lo AS BIGINT) AS frame_bytes,
       CAST((CASE WHEN hi = lo THEN 0
             ELSE list_sum(list_transform(generate_series(lo + 1, hi),
                  j -> CAST(concat('0x', substr(h, (j-1)*2+1, 2)) AS BIGINT))) END)
            % 2147483648 AS BIGINT) AS frame_checksum
FROM s
"""


# ---------------------------------------------------------------------------
# contract
# ---------------------------------------------------------------------------

def q_value_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram of events.value (checks/drift.histogram_
    equidepth), 8 buckets at the column's own quantiles — robust to the
    outliers that stretch equal-width bins. Exact-percentile opt-in for
    oracle parity; production default is the sketch."""
    from schema_infer_plugin_spark.checks import histogram_equidepth

    ev = load_table(spark, sf_dir, "events").select("value")
    return histogram_equidepth(ev, "value", n_buckets=8, approx=False)


ORACLE_VALUE_HISTOGRAM = """
WITH nn AS (SELECT CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL),
st AS (
  SELECT [{probs}] AS edges, round(min(v), 6) AS lo, round(max(v), 6) AS hi
  FROM nn),
b AS (
  SELECT len(list_filter(edges, e -> v > e)) AS bucket, edges, lo, hi
  FROM nn, st)
SELECT CAST(bucket AS INT) AS bucket,
       CAST(round(CASE WHEN bucket = 0 THEN lo ELSE edges[bucket] END, 6) AS DOUBLE) AS edge_lo,
       CAST(round(CASE WHEN bucket = 7 THEN hi ELSE edges[bucket + 1] END, 6) AS DOUBLE) AS edge_hi,
       CAST(count(*) AS BIGINT) AS cnt
FROM b GROUP BY bucket, edges, lo, hi
""".format(
    # round(edge, 6) BEFORE assignment on both sides: interpolated quantiles
    # differ by an ulp between engines, and a value exactly on an edge would
    # flip buckets on that invisible difference (checks/drift.histogram_equidepth)
    probs=", ".join(f"round(quantile_cont(v, {i}.0/8), 6)" for i in range(1, 8))
)


def q_daily_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-volume anomaly check (checks/volume.py): per-day event counts
    vs their trailing-7-day mean/std (explicit Σx/Σx² so the variance is
    bit-identical cross-engine); |z| > 3 with ≥3 days history flags a broken
    producer or replay storm. The table collapses to #days rows in one agg."""
    from schema_infer_plugin_spark.checks import daily_volume_anomalies

    ev = load_table(spark, sf_dir, "events").select("ts")
    return daily_volume_anomalies(ev, "ts", trailing_days=7, k=3.0)


ORACLE_DAILY_VOLUME = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_rows
  FROM events GROUP BY 1),
w AS (
  SELECT day, n_rows,
         count(*)            OVER tw AS cnt,
         CAST(sum(n_rows)    OVER tw AS DOUBLE) AS s,
         CAST(sum(n_rows * n_rows) OVER tw AS DOUBLE) AS sq
  FROM daily
  WINDOW tw AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
st AS (
  SELECT day, n_rows, cnt, s / cnt AS mean,
         CASE WHEN cnt > 1 THEN sqrt((sq - s * s / cnt) / (cnt - 1)) END AS std
  FROM w),
z AS (SELECT *, CASE WHEN std > 0 THEN (n_rows - mean) / std END AS zz FROM st)
SELECT day, n_rows,
       CAST(round(mean, 6) AS DOUBLE) AS base_mean,
       CAST(round(std, 6) AS DOUBLE) AS base_std,
       CAST(round(zz, 6) AS DOUBLE) AS z,
       (cnt >= 3 AND std IS NOT NULL AND std > 0 AND abs(zz) > 3.0) AS is_anomaly
FROM z
"""


def q_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outliers on events.value (checks/outliers.py), k=3.
    approx=False is the exact-percentile opt-in so the run is value-checkable
    against DuckDB quantile_cont; the production default is the
    percentile_approx sketch. Bounds are a single broadcast row — the
    documented bounded-broadcast-cross pattern."""
    from schema_infer_plugin_spark.checks import iqr_outliers

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    return iqr_outliers(ev, "value", k=3.0, approx=False)


ORACLE_VALUE_OUTLIERS = """
WITH b AS (
  SELECT quantile_cont(CAST(value AS DOUBLE), 0.25) AS q1,
         quantile_cont(CAST(value AS DOUBLE), 0.75) AS q3
  FROM events),
f AS (SELECT q1, q3, q1 - 3.0 * (q3 - q1) AS lo, q3 + 3.0 * (q3 - q1) AS hi FROM b)
SELECT event_id, CAST(round(CAST(value AS DOUBLE), 6) AS DOUBLE) AS value,
       CAST(round(q1, 6) AS DOUBLE) AS q1, CAST(round(q3, 6) AS DOUBLE) AS q3,
       CAST(round(lo, 6) AS DOUBLE) AS lo, CAST(round(hi, 6) AS DOUBLE) AS hi
FROM events, f
WHERE round(CAST(value AS DOUBLE), 6) < round(lo, 6)
   OR round(CAST(value AS DOUBLE), 6) > round(hi, 6)
"""


def q_dedup_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERSATION-level near-dup pairs: render each conversation's turns to
    one deterministic text (datapipe/convstats.conversation_texts), then the
    standard MinHash-LSH chain — two conversations with near-identical
    content are duplicates even when ids/timestamps differ. The transcripts ×
    datapipe crossover a training pipeline runs before SFT extraction."""
    from schema_infer_plugin_spark.datapipe import (
        conversation_texts,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    ct = conversation_texts(_transcripts(spark, sf_dir))
    sig = minhash_signatures(ct, "conv_id", "text", num_hashes=16, shingle_k=3)
    return lsh_candidate_pairs(sig, "conv_id", bands=4, min_est_jaccard=0.5)


#: same signature/banding arithmetic as _MINHASH_CAND_CTES but over the
#: rendered conversation texts; emits est_jaccard like the engine
ORACLE_DEDUP_CONVERSATIONS = oracle_cte(
    rf"""
SELECT id_a, id_b, ej AS est_jaccard FROM (
  WITH ct AS (
    SELECT conv_id,
           string_agg(coalesce(text, '<null>'), ' '
                      ORDER BY turn_idx, coalesce(text, '<null>')) AS text
    FROM transcripts WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL GROUP BY conv_id),
  toks AS (SELECT conv_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM ct),
  sh AS (SELECT conv_id,
                unnest(list_distinct(list_transform(generate_series(1, greatest(len(tk)-2, 1)),
                                                    i -> array_to_string(tk[i:i+2], ' ')))) AS sh
         FROM toks),
  hh AS (SELECT conv_id,
                CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT) % 2147483647 AS h1,
                CAST(concat('0x', substr(md5(sh), 9, 8)) AS BIGINT) % 2147483647 AS h2
         FROM sh),
  sig AS (SELECT conv_id, [{", ".join(f"min((h1 + {i} * h2) % 2147483647)" for i in range(16))}] AS sig
          FROM hh GROUP BY conv_id),
  banded AS (SELECT conv_id, sig, b, md5(array_to_string(sig[b*4+1:b*4+4], '|')) AS bh
             FROM sig CROSS JOIN generate_series(0, 3) AS t(b))
  SELECT DISTINCT l.conv_id AS id_a, r.conv_id AS id_b,
         CAST(len(list_filter(generate_series(1, 16), i -> l.sig[i] = r.sig[i])) AS DOUBLE)/16 AS ej
  FROM banded l JOIN banded r ON l.b = r.b AND l.bh = r.bh AND l.conv_id < r.conv_id)
WHERE ej >= 0.5
"""
)


def q_sft_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT example extraction (datapipe/examples.py): one training example
    per assistant turn — target text + ≤4 preceding turns rendered as a flat
    byte-comparable context string. Bounded ROWS-frame collect over the same
    conv_id window partitioning validation uses (zero exchange when
    bucketed)."""
    from schema_infer_plugin_spark.datapipe import sft_examples

    return sft_examples(_transcripts(spark, sf_dir), max_context=4)


ORACLE_SFT_EXAMPLES = oracle_cte(
    """
SELECT conv_id, turn_idx, text AS target,
       coalesce(array_to_string(ctx, chr(31)), '') AS context,
       CAST(coalesce(len(ctx), 0) AS INT) AS n_context
FROM (
  SELECT conv_id, turn_idx, role, text,
         list(concat_ws(chr(9), coalesce(role, '<null>'), coalesce(text, '<null>'))) OVER (
           PARTITION BY conv_id
           ORDER BY turn_idx, coalesce(role, ''), coalesce(text, '')
           ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING) AS ctx
  FROM transcripts WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL)
WHERE role = 'assistant' AND text IS NOT NULL
"""
)


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (datapipe/sessions.py): split each user's
    event stream at >1 h silences, one stats row per session — the time-aware
    grouping that turns raw logs into conversation-shaped units. Single
    window shuffle; all gap math in integer microseconds."""
    from schema_infer_plugin_spark.datapipe import session_stats, sessionize

    ev = load_table(spark, sf_dir, "events")
    s = sessionize(ev, "user_id", "ts", gap_seconds=3600, order_cols=["event_id"])
    return session_stats(s, "user_id", count_distinct_col="event_type")


#: ROWS frame spelled out: DuckDB's default with ORDER BY is RANGE (peers
#: included on ts ties) — Spark side uses an explicit rowsBetween.
ORACLE_SESSIONIZE = """
WITH g AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 3600000000
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, event_type, ts_us,
         CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS INT)
           AS session_idx
  FROM g)
SELECT user_id, session_idx,
       CAST(count(*) AS BIGINT) AS n_events,
       min(ts_us) AS start_us,
       max(ts_us) AS end_us,
       max(ts_us) - min(ts_us) AS duration_us,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_distinct
FROM s GROUP BY user_id, session_idx
"""


def q_session_stats_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-native sessionization DRIVER-GREEN parity (VERDICT r3 #6):
    the events table replayed through Structured Streaming's
    ``session_window`` (streaming/incremental.session_stats_stream) with a
    far-future sentinel row appended so the GLOBAL watermark passes every
    real session's end — append mode then finalizes and emits ALL of them,
    giving exact batch parity without wall-clock waits. Closed windows land
    in parquet via the stream sink and are read back (``_replay_stream``).

    Session semantics are Spark's session_window (an event exactly ``gap``
    after the previous one STARTS a new session, i.e. new-session on
    diff >= gap; session_end = last event + gap) — the oracle mirrors that,
    deliberately distinct from the batch ``sessionize`` query's diff > gap."""
    from schema_infer_plugin_spark.streaming.incremental import session_stats_stream

    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    # watermark is GLOBAL max event time − delay: one sentinel row (user −1,
    # year 2100) closes every real session; it is filtered from the result.
    # Stage events + sentinel as ONE file: a multi-file source could split
    # into micro-batches whose watermark (advanced to 2100 by the sentinel's
    # batch) drops every later real-data file as late — single-batch replay
    # keeps the parity exact (same guard as q_windowed_rates_stream).
    sentinel = (
        ev.limit(1)
        .withColumn("user_id", F.lit(-1).cast("long"))
        .withColumn("ts", F.to_timestamp(F.lit("2100-01-01 00:00:00")))
    )
    out = _replay_stream(
        spark,
        ev.unionByName(sentinel).coalesce(1),
        lambda s: session_stats_stream(s, "user_id", "ts", gap="1 hour", delay="1 second"),
    )
    return out.filter(F.col("user_id") >= 0).select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        F.col("n_events").cast("long").alias("n_events"),
    )


#: session_window semantics: new session on diff >= gap (vs batch lag's >);
#: ties on ts are safe — the RANGE running-max assigns every peer row the
#: same session start, matching session_window's set-merge.
ORACLE_SESSION_STREAM = """
WITH g AS (
  SELECT user_id, epoch_us(ts) AS ts_us,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) >= 3600000000
              THEN 1 ELSE 0 END AS ns
  FROM events
), s AS (
  SELECT user_id, ts_us,
         max(CASE WHEN ns = 1 THEN ts_us END) OVER (PARTITION BY user_id ORDER BY ts_us) AS session_start_us
  FROM g)
SELECT user_id, session_start_us,
       max(ts_us) + 3600000000 AS session_end_us,
       CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, session_start_us
"""


def q_windowed_drift_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous drift monitoring, streaming half + batch half: Structured
    Streaming maintains per-day role counts (streaming/incremental.
    windowed_histogram_stream — watermark-bounded state, counts emitted on
    window close), then checks/drift.drift_terms compares the emitted rows,
    per window, with the full-corpus baseline for PSI/KL/JS AND the
    sample-size-aware chi-square — "which day drifted" without re-scanning
    the stream. Far-future NULL-role sentinel advances the global watermark
    so every real window closes (single-file staging, the
    session_stats_stream guard); its own window never closes and a
    2099 filter belts-and-braces it out."""
    from schema_infer_plugin_spark.streaming.incremental import (
        windowed_histogram_stream,
    )

    t = _transcripts(spark, sf_dir).select(
        "role", F.col("ts").cast("timestamp").alias("ts")
    )
    sentinel = (
        t.limit(1)
        .withColumn("role", F.lit(None).cast("string"))
        .withColumn("ts", F.to_timestamp(F.lit("2100-01-01 00:00:00")))
    )
    counts = _replay_stream(
        spark,
        t.unionByName(sentinel).coalesce(1),
        lambda s: windowed_histogram_stream(
            s, "role", "ts", window_duration="1 day", watermark_delay="1 second"
        ),
    )
    emitted = counts.filter(
        F.col("window_start") < F.to_timestamp(F.lit("2099-01-01 00:00:00"))
    )
    base = drift_counts(_transcripts(spark, sf_dir), ["role"])
    return _psi_terms(
        drift_terms(emitted, base, by=("window_start", "window_end")),
        F.unix_micros("window_start").alias("window_start_us"),
        F.unix_micros("window_end").alias("window_end_us"),
        tail=(
            "o_base",
            "o_cur",
            "n_base",
            "n_cur",
            F.round("chi2_term", 6).cast("double").alias("chi2_term"),
        ),
    )


ORACLE_WINDOWED_DRIFT = oracle_cte(
    """
, wc AS (
  -- ts IS NOT NULL: the stream's window operator drops NULL event times
  -- before counting (same guard as the numeric twin ORACLE_WINDOWED_KS);
  -- the baseline below keeps them — batch histograms never watermark.
  SELECT epoch_us(date_trunc('day', ts)) AS ws,
         epoch_us(date_trunc('day', ts)) + 86400000000 AS we,
         coalesce(CAST(role AS STRING), '<null>') AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM transcripts WHERE ts IS NOT NULL GROUP BY 1, 2, 3),
base AS (
  SELECT coalesce(CAST(role AS STRING), '<null>') AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM transcripts GROUP BY 1),
wins AS (SELECT DISTINCT ws, we FROM wc),
buckets AS (
  SELECT bucket FROM base UNION SELECT bucket FROM wc),
grid AS (
  SELECT w.ws, w.we, b.bucket,
         CAST(coalesce(bs.cnt, 0) AS BIGINT) AS o_base,
         CAST(coalesce(c.cnt, 0) AS BIGINT) AS o_cur
  FROM wins w CROSS JOIN buckets b
  LEFT JOIN base bs ON bs.bucket = b.bucket
  LEFT JOIN wc c ON c.ws = w.ws AND c.bucket = b.bucket
  WHERE coalesce(bs.cnt, 0) > 0 OR coalesce(c.cnt, 0) > 0),
tot AS (
  SELECT *, CAST(sum(o_base) OVER (PARTITION BY ws) AS BIGINT) AS n_base,
            CAST(sum(o_cur) OVER (PARTITION BY ws) AS BIGINT) AS n_cur
  FROM grid),
d AS (
  SELECT *,
         CASE WHEN n_base > 0
              THEN CAST(o_base AS DOUBLE) / CAST(n_base AS DOUBLE)
              ELSE 0.0 END AS fb,
         CASE WHEN n_cur > 0
              THEN CAST(o_cur AS DOUBLE) / CAST(n_cur AS DOUBLE)
              ELSE 0.0 END AS fc,
         CAST(CAST(o_cur AS DECIMAL(19,0)) * CAST(n_base AS DECIMAL(19,0)) AS DOUBLE)
         - CAST(CAST(o_base AS DECIMAL(19,0)) * CAST(n_cur AS DECIMAL(19,0)) AS DOUBLE)
           AS diff
  FROM tot)
SELECT ws AS window_start_us, we AS window_end_us, bucket,
       CAST(round(fb, 6) AS DOUBLE) AS freq_base,
       CAST(round(fc, 6) AS DOUBLE) AS freq_cur,
       CAST(round((fc - fb) * ln((fc + 1e-6) / (fb + 1e-6)), 6) + 0.0 AS DOUBLE) AS psi_term,
       CAST(round(fc * ln((fc + 1e-6) / (fb + 1e-6)), 6) + 0.0 AS DOUBLE) AS kl_term,
       CAST(round(
         0.5 * (fc + 1e-6) * ln((fc + 1e-6) / (((fc + 1e-6) + (fb + 1e-6)) / 2))
         + 0.5 * (fb + 1e-6) * ln((fb + 1e-6) / (((fc + 1e-6) + (fb + 1e-6)) / 2)),
         6) + 0.0 AS DOUBLE) AS js_term,
       o_base, o_cur, n_base, n_cur,
       CASE WHEN n_cur > 0 AND n_base > 0 THEN
         CAST(round(
           diff * diff / (CAST(n_cur AS DOUBLE) * CAST(n_base AS DOUBLE)
                          * CAST(o_cur + o_base AS DOUBLE)),
           6) AS DOUBLE)
       END AS chi2_term
FROM d
"""
)


def q_windowed_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window NUMERIC drift (checks/drift.windowed_counts +
    drift_compare): each day's turn_idx distribution two-sample-KS-
    tested against the full-corpus fixed-grid baseline — the numeric half of
    continuous drift monitoring ("which day's conversation-length
    distribution shifted"), completing the matrix whose categorical half is
    windowed_drift_stream. The [0,64]×16 grid stands in for the persisted
    artifact's lo/hi/n_buckets (fixed at baseline time, clamp semantics —
    out-of-range values collapse conservatively into the edge buckets).
    Output keeps the hash-comparable fields: KS derives from exact-count
    CDFs (order-independent max/min), dof and totals are exact longs; the
    report's w1/chi2 columns stay engine-side evidence — double SUMS whose
    accumulation order is engine-dependent (the ks_drift_turn_idx posture
    of omitting w1 from the compared row)."""
    t = _transcripts(spark, sf_dir)
    grid = {"turn_idx": (0.0, 64.0, 16)}
    base = drift_counts(t, [], grid)
    cur = windowed_counts(t, [], grid, ts_col="ts", window_duration="1 day")
    rep = drift_compare(cur, base, by=("window_start", "window_end"))
    return rep.select(
        F.unix_micros("window_start").alias("window_start_us"),
        F.unix_micros("window_end").alias("window_end_us"),
        "ks_stat",
        "ks_at",
        "dof",
        "n_cur",
        "n_base",
    )


def q_windowed_ks_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming face of the numeric windowed drift, driver-green:
    streaming/incremental.windowed_grid_counts_stream maintains per-day
    fixed-grid turn_idx counts (watermark-bounded state, exact counts on
    window close), replayed with the far-future-sentinel single-file staging
    (the session_stats_stream guard — here the sentinel carries turn_idx 0,
    NOT NULL, because the grid stream drops NULL values BEFORE the watermark
    operator and a dropped sentinel would advance nothing); then checks/
    drift.drift_compare compares the EMITTED rows with the same
    full-corpus baseline as q_windowed_ks_drift. Per-window exact counts ⇒
    the report is row-identical to the batch face, so the SAME oracle text
    verifies the whole stream→report path end to end."""
    from schema_infer_plugin_spark.streaming.incremental import (
        windowed_grid_counts_stream,
    )

    full = _transcripts(spark, sf_dir)
    t = full.select(
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.col("ts").cast("timestamp").alias("ts"),
    )
    sentinel = (
        t.limit(1)
        .withColumn("turn_idx", F.lit(0).cast("int"))
        .withColumn("ts", F.to_timestamp(F.lit("2100-01-01 00:00:00")))
    )
    counts = _replay_stream(
        spark,
        t.unionByName(sentinel).coalesce(1),
        lambda s: windowed_grid_counts_stream(
            s, "turn_idx", 0.0, 64.0, 16,
            ts_col="ts", window_duration="1 day", watermark_delay="1 second",
        ),
    )
    emitted = counts.filter(
        F.col("window_start") < F.to_timestamp(F.lit("2099-01-01 00:00:00"))
    )
    base = drift_counts(full, [], {"turn_idx": (0.0, 64.0, 16)})
    rep = drift_compare(emitted, base, by=("window_start", "window_end"))
    return rep.select(
        F.unix_micros("window_start").alias("window_start_us"),
        F.unix_micros("window_end").alias("window_end_us"),
        "ks_stat",
        "ks_at",
        "dof",
        "n_cur",
        "n_base",
    )


#: grid_quantize([0,64]×16) in the shared dialect: (hi-lo)/n_buckets Python-
#: folds to 4.0 on the Spark side, and the output edge is lo + (bkt*64.0)/16
#: in that exact association — mirror both or ulp ties flip buckets.
_KSQ = (
    "0.0 + (least(floor((greatest(least(CAST(turn_idx AS DOUBLE), 64.0), 0.0)"
    " - 0.0) / 4.0), 15) * 64.0) / 16"
)

ORACLE_WINDOWED_KS = oracle_cte(
    f"""
, base AS (
  SELECT {_KSQ} AS v, CAST(count(*) AS BIGINT) AS cb
  FROM transcripts WHERE turn_idx IS NOT NULL
  GROUP BY 1),
wc AS (
  SELECT epoch_us(date_trunc('day', ts)) AS ws,
         epoch_us(date_trunc('day', ts)) + 86400000000 AS we,
         {_KSQ} AS v,
         CAST(count(*) AS BIGINT) AS ca
  FROM transcripts WHERE turn_idx IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2, 3),
wins AS (SELECT DISTINCT ws, we FROM wc),
vs AS (SELECT v FROM base UNION SELECT v FROM wc),
grid AS (
  SELECT w.ws, w.we, x.v,
         CAST(coalesce(c.ca, 0) AS BIGINT) AS ca,
         CAST(coalesce(b.cb, 0) AS BIGINT) AS cb
  FROM wins w CROSS JOIN vs x
  LEFT JOIN base b ON b.v = x.v
  LEFT JOIN wc c ON c.ws = w.ws AND c.v = x.v
  WHERE coalesce(c.ca, 0) > 0 OR coalesce(b.cb, 0) > 0),
cdf AS (
  SELECT ws, we, v, ca, cb,
         CAST(sum(ca) OVER cw AS DOUBLE) / CAST(sum(ca) OVER pw AS DOUBLE) AS cdf_cur,
         CAST(sum(cb) OVER cw AS DOUBLE) / CAST(sum(cb) OVER pw AS DOUBLE) AS cdf_base,
         sum(ca) OVER pw AS n_cur,
         sum(cb) OVER pw AS n_base
  FROM grid
  WINDOW pw AS (PARTITION BY ws),
         cw AS (PARTITION BY ws ORDER BY v NULLS FIRST
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
d AS (SELECT *, abs(cdf_cur - cdf_base) AS d FROM cdf),
m AS (SELECT *, max(d) OVER (PARTITION BY ws) AS dmx FROM d)
SELECT ws AS window_start_us, we AS window_end_us,
       CAST(round(max(d), 6) AS DOUBLE) AS ks_stat,
       CAST(min(CASE WHEN d = dmx THEN v END) AS DOUBLE) AS ks_at,
       CAST(count(*) - 1 AS BIGINT) AS dof,
       CAST(max(n_cur) AS BIGINT) AS n_cur,
       CAST(max(n_base) AS BIGINT) AS n_base
FROM m GROUP BY ws, we
"""
)


def q_windowed_rates_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time windowed violation rates driver-green (streaming/
    incremental.windowed_violation_rates): the stateless Pass-B subset
    aggregated into 1-minute tumbling windows under a watermark, replayed
    through Structured Streaming with the same sentinel-flush mechanics as
    q_session_stats_stream (the year-2100 row advances the GLOBAL watermark
    so append mode finalizes every real window; its own window is filtered).
    Rows with NULL ts are dropped by the event-time aggregation — the oracle
    mirrors with WHERE ts IS NOT NULL; the validation path itself never
    watermarks violations away (incremental.py module docstring)."""
    from schema_infer_plugin_spark.streaming.incremental import (
        windowed_violation_rates,
    )

    t = _transcripts(spark, sf_dir).withColumn("ts", F.col("ts").cast("timestamp"))
    # one staged file INCLUDING the sentinel: a multi-file source could split
    # into micro-batches, and if the sentinel's file formed its own batch the
    # watermark would advance to 2100 and drop every later real-data file as
    # late — union + coalesce(1) keeps the replay single-batch and exact
    # (same guard as q_session_stats_stream; late-data semantics are
    # pytest-covered)
    sentinel = (
        t.limit(1)
        .withColumn("conv_id", F.lit("__flush__"))
        .withColumn("turn_idx", F.lit(0).cast(t.schema["turn_idx"].dataType))
        .withColumn("role", F.lit("user"))
        .withColumn("text", F.lit(None).cast("string"))  # its own violation
        .withColumn("tool", F.lit(None).cast("string"))
        .withColumn("ts", F.to_timestamp(F.lit("2100-01-01 00:00:00")))
    )
    rates = _replay_stream(
        spark,
        t.unionByName(sentinel).coalesce(1),
        lambda s: windowed_violation_rates(
            s, window_duration="1 minute", watermark_delay="1 second"
        ),
    )
    return (
        rates.filter(F.col("window_start") < F.to_timestamp(F.lit("2099-01-01 00:00:00")))
        .select(
            F.unix_micros("window_start").alias("window_start_us"),
            F.unix_micros("window_end").alias("window_end_us"),
            "check_name",
            F.col("violations").cast("long").alias("violations"),
        )
    )


#: tumbling windows align to the 1970 epoch — floor via exact integer
#: modulus, never float division (epoch_us ~1.7e15 eats double mantissa).
ORACLE_WINDOWED_RATES_STREAM = oracle_cte(
    f"""
SELECT window_start_us, window_start_us + 60000000 AS window_end_us, check_name,
       CAST(count(*) AS BIGINT) AS violations
FROM (
  SELECT epoch_us(ts) - epoch_us(ts) % 60000000 AS window_start_us, check_name FROM (
    SELECT ts, 'domain_role' AS check_name FROM transcripts
    WHERE role IS NOT NULL AND role NOT IN ({",".join(repr(r) for r in ROLE_DOMAIN)})
    UNION ALL
    SELECT ts, 'domain_tool' FROM transcripts
    WHERE tool IS NOT NULL AND tool NOT IN ({",".join(repr(x) for x in TOOL_DOMAIN)})
    UNION ALL
    SELECT ts, 'tool_without_role' FROM transcripts
    WHERE tool IS NOT NULL AND coalesce(role, '') != 'tool'
    UNION ALL
    SELECT ts, 'not_null_text' FROM transcripts WHERE text IS NULL
    UNION ALL
    SELECT ts, 'not_null_conv_id' FROM transcripts WHERE conv_id IS NULL
    UNION ALL
    SELECT ts, 'not_null_turn_idx' FROM transcripts WHERE turn_idx IS NULL
  ) WHERE ts IS NOT NULL)
GROUP BY window_start_us, check_name
"""
)


def q_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming exact dedup driver-green
    (streaming/incremental.dedup_stream): documents plus a deterministic 10%
    re-post slice (same text, new doc_id, later ts) replayed as a stream;
    ``dropDuplicatesWithinWatermark`` on md5(text) keeps ONE row per content
    key, so the emitted set is exactly the distinct texts — which is what
    makes the output deterministic (the winning doc_id depends on processing
    order, so only the content columns are returned). The generous delay
    keeps the single-batch replay exact; watermark state EVICTION semantics
    are pytest-covered (tests/test_streaming.py)."""
    from schema_infer_plugin_spark.streaming.incremental import dedup_stream

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.timestamp_seconds(
            F.lit(1_700_000_000) + F.pmod(F.xxhash64("doc_id"), F.lit(86400))
        ).alias("ts"),
    )
    reposts = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(10)) == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "text",
        (F.col("ts") + F.expr("INTERVAL 1000 SECONDS")).alias("ts"),
    )
    kept = _replay_stream(
        spark,
        docs.unionByName(reposts).coalesce(1),
        lambda s: dedup_stream(s, id_cols=[], ts_col="ts", delay="3650 days", content_col="text"),
    )
    return kept.select("text_hash", "text")


#: the re-posted slice adds no new content, so distinct texts of the base
#: table IS the kept set — and the stream provably dropped the copies.
ORACLE_DEDUP_STREAM = """
SELECT DISTINCT md5(text) AS text_hash, text FROM documents
"""


def q_conversation_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation training-sample features + the 'trainable' keep-filter
    (datapipe/convstats.py) — the conversation-level analog of text_quality."""
    from schema_infer_plugin_spark.datapipe import conversation_features

    return conversation_features(_transcripts(spark, sf_dir))


ORACLE_CONVERSATION_FEATURES = oracle_cte(
    """
, last_role AS (
  SELECT conv_id, role AS lr FROM (
    SELECT conv_id, role,
           row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx DESC NULLS LAST, role DESC NULLS LAST) AS rn
    FROM transcripts WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL) WHERE rn = 1),
agg AS (
  SELECT conv_id,
         CAST(count(*) AS BIGINT) AS n_turns,
         CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
         CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT) AS n_assistant,
         CAST(sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT) AS n_tool,
         min(turn_idx) AS min_idx, max(turn_idx) AS max_idx,
         count(DISTINCT turn_idx) AS n_idx,
         CAST(sum(coalesce(length(text), 0)) AS BIGINT) AS total_chars
  FROM transcripts WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL GROUP BY conv_id)
SELECT a.conv_id, n_turns, n_user, n_assistant, n_tool,
       (min_idx = 0) AS starts_at_zero,
       (max_idx - min_idx + 1 = n_idx) AS contiguous,
       coalesce(lr = 'assistant', false) AS ends_with_assistant,
       total_chars,
       CAST(round(CAST(total_chars AS DOUBLE) / n_turns, 6) AS DOUBLE) AS avg_chars,
       ((min_idx = 0) AND (max_idx - min_idx + 1 = n_idx) AND n_user > 0
        AND n_assistant > 0 AND coalesce(lr = 'assistant', false)) AS trainable
FROM agg a JOIN last_role l ON a.conv_id = l.conv_id
"""
)


def q_shared_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared opening-turn template detection (datapipe/convstats.
    shared_prefixes, k=1): conversations that open with an identical
    role:text first turn — the system-prompt/template duplication signal
    whole-conversation dedup cannot see. One conv_id window + k-bounded
    per-conversation render + hash agg on the prefix md5; the share
    denominator is a single-row count frame broadcast cross (allowlisted)."""
    from schema_infer_plugin_spark.datapipe import shared_prefixes

    return shared_prefixes(_transcripts(spark, sf_dir), k=1, min_count=2)


ORACLE_SHARED_PREFIXES = oracle_cte(
    """
, ordered AS (
  SELECT conv_id, role, text,
         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx ASC NULLS FIRST,
                            ts ASC NULLS FIRST, role ASC NULLS FIRST, text ASC NULLS FIRST) AS rn
  FROM transcripts WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL),
pref AS (
  SELECT conv_id, count(*) AS cnt,
         md5(string_agg(coalesce(role, '<null>') || ':' || coalesce(text, '<null>'),
                        chr(10) ORDER BY rn)) AS prefix_key
  FROM ordered WHERE rn <= 1 GROUP BY conv_id),
eligible AS (SELECT * FROM pref WHERE cnt = 1),
tot AS (SELECT count(*) AS n FROM eligible),
g AS (
  SELECT prefix_key, CAST(count(*) AS BIGINT) AS n_convs, min(conv_id) AS sample_conv
  FROM eligible GROUP BY prefix_key)
SELECT prefix_key, n_convs, sample_conv,
       CAST(round(n_convs * 1.0 / tot.n, 6) AS DOUBLE) AS share
FROM g, tot WHERE n_convs >= 2
"""
)


def q_conv_stats_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation rollup via the salted two-phase aggregation
    (checks/salting.py) — the skew template, oracle-checked for exactness."""
    from schema_infer_plugin_spark.checks.salting import conv_stats

    return conv_stats(_transcripts(spark, sf_dir))


ORACLE_CONV_STATS = oracle_cte(
    """
SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
       CAST(max(turn_idx) AS INT) AS max_turn_idx,
       CAST(min(turn_idx) AS INT) AS min_turn_idx,
       CAST(sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_tool_turns
FROM transcripts GROUP BY conv_id
"""
)


_CSV_CORPUS_SQL = """
SELECT event_id,
       concat(CAST(event_id AS STRING), ',', CAST(user_id AS STRING), ',', event_type) AS line
FROM events
"""


def q_csv_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSVParser semantics (SURVEY.md §2.3 P3): split on delimiter, declared
    headers, everything stays a string."""
    from schema_infer_plugin_spark.operators.parsers import parse_csv_line

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    corpus = spark.sql(_CSV_CORPUS_SQL)
    return parse_csv_line(corpus, "line", ["evt", "usr", "etype"])


ORACLE_CSV_PARSE = """
SELECT CAST(event_id AS STRING) AS evt, CAST(user_id AS STRING) AS usr,
       event_type AS etype
FROM events
"""


def q_raw_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RawTextParser (SURVEY.md §2.3 P7) over transcripts text."""
    from schema_infer_plugin_spark.operators.parsers import parse_raw_text

    t = _transcripts(spark, sf_dir).filter(F.col("text").isNotNull())
    return parse_raw_text(t.select("conv_id", "turn_idx", "text"), "text")


ORACLE_RAW_TEXT = oracle_cte(
    """
SELECT conv_id, turn_idx, text, text AS raw_content,
       CAST(length(text) AS BIGINT) AS message_length, false AS is_binary
FROM transcripts WHERE text IS NOT NULL
"""
)


def q_text_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BASELINE input_hint per-row invariant, stated as a query: per-turn
    text equality under stable (conv_id, turn_idx) ordering. The driver's
    value-hash compare over these rows IS the byte-match evidence."""
    return _transcripts(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "text", "tool"
    )


ORACLE_TEXT_ORDERED = oracle_cte(
    "SELECT conv_id, turn_idx, role, text, tool FROM transcripts"
)


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample (sources/sampling.py): ~6% per role
    stratum via md5 bucket < '10' — reproducible AND oracle-checkable (md5 hex
    is engine-portable, unlike TABLESAMPLE/rand)."""
    from schema_infer_plugin_spark.sources.sampling import stratified_sample

    t = _transcripts(spark, sf_dir)
    return stratified_sample(
        t.select("conv_id", "turn_idx", "role"), "role", ["conv_id", "turn_idx"], 16
    )


ORACLE_HASH_SAMPLE = oracle_cte(
    """
SELECT conv_id, turn_idx, role
FROM (SELECT conv_id, turn_idx, role FROM transcripts)
WHERE substr(md5(concat_ws(':', role, conv_id, CAST(turn_idx AS STRING))), 1, 2) < '10'
"""
)


def q_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(partition, check) verdict rollup (operators/violations.verdicts).
    Partition key = last char of conv_id — portable to the DuckDB oracle
    (production uses the Iceberg bucket transform instead)."""
    from schema_infer_plugin_spark.operators.violations import verdicts
    from schema_infer_plugin_spark.plans.validate import CHECK_NAMES, validate_transcripts

    t = _transcripts(spark, sf_dir)
    pk = F.coalesce(F.substring("conv_id", -1, 1), F.lit("(keyless)"))
    viol = validate_transcripts(t).withColumn("partition_key", pk)
    keys = t.select(pk.alias("partition_key")).distinct()
    return verdicts(viol, keys, CHECK_NAMES).select(
        "partition_key",
        "check_name",
        F.col("pass").alias("is_pass"),
        "violation_count",
    )


ORACLE_VERDICTS = oracle_cte(
    f"""
, v AS (
  SELECT 'uniqueness' AS check_name, conv_id FROM transcripts
  WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL
  GROUP BY conv_id, turn_idx HAVING count(*) > 1
  UNION ALL
  SELECT check_name, conv_id FROM (
    WITH idx AS (SELECT DISTINCT conv_id, turn_idx FROM transcripts
                 WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL),
    lagged AS (
      SELECT conv_id, turn_idx,
             lag(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx NULLS FIRST) AS prev_idx
      FROM idx)
    SELECT 'contiguity' AS check_name, conv_id
    FROM lagged WHERE prev_idx IS NOT NULL AND turn_idx != prev_idx + 1
    UNION ALL
    SELECT 'contiguity_start', conv_id FROM lagged WHERE prev_idx IS NULL AND turn_idx != 0
  )
  UNION ALL
  SELECT 'domain_role', conv_id FROM transcripts
  WHERE role IS NOT NULL AND role NOT IN ({",".join(repr(r) for r in ROLE_DOMAIN)})
  UNION ALL
  SELECT 'domain_tool', conv_id FROM transcripts
  WHERE tool IS NOT NULL AND tool NOT IN ({",".join(repr(t) for t in TOOL_DOMAIN)})
  UNION ALL
  SELECT 'tool_without_role', conv_id FROM transcripts
  WHERE tool IS NOT NULL AND coalesce(role, '') != 'tool'
  UNION ALL
  SELECT 'not_null_text', conv_id FROM transcripts WHERE text IS NULL
  UNION ALL
  SELECT 'not_null_conv_id', conv_id FROM transcripts WHERE conv_id IS NULL
  UNION ALL
  SELECT 'not_null_turn_idx', conv_id FROM transcripts WHERE turn_idx IS NULL
  UNION ALL
  SELECT 'ts_monotonic', conv_id FROM (
    SELECT conv_id, ts,
           lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx ASC NULLS FIRST, ts ASC NULLS FIRST) AS prev_ts
    FROM transcripts WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL)
  WHERE ts < prev_ts
),
keys AS (SELECT DISTINCT coalesce(substr(conv_id, -1, 1), '(keyless)') AS partition_key
         FROM transcripts),
checks(check_name) AS (VALUES ('uniqueness'), ('contiguity'), ('contiguity_start'),
  ('ts_monotonic'), ('domain_role'), ('domain_tool'), ('tool_without_role'),
  ('not_null_text'), ('not_null_conv_id'), ('not_null_turn_idx')),
grid AS (SELECT partition_key, check_name FROM keys CROSS JOIN checks),
counts AS (
  SELECT coalesce(substr(conv_id, -1, 1), '(keyless)') AS partition_key, check_name,
         CAST(count(*) AS BIGINT) AS c
  FROM v GROUP BY 1, 2)
SELECT g.partition_key, g.check_name,
       coalesce(c.c, 0) = 0 AS is_pass,
       CAST(coalesce(c.c, 0) AS BIGINT) AS violation_count
FROM grid g LEFT JOIN counts c
  ON g.partition_key = c.partition_key AND g.check_name = c.check_name
"""
)


# ---------------------------------------------------------------------------
# round-3 depth: KS drift, profile comparison, sequence packing
# ---------------------------------------------------------------------------

#: deterministic run split: first md5 hex char of conv_id < '8' → baseline run
_SIDE_SQL = "substr(md5(conv_id), 1, 1) < '8'"
_KS_BUCKETS = 20


def _split_runs(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    side = F.substring(F.md5(F.col("conv_id")), 1, 1) < "8"
    return df.filter(side), df.filter(~side)


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS statistic on turn_idx between two deterministic halves of
    the corpus (checks/ksdrift.py) — the numeric companion of the PSI/KL/JS
    histogram drift; bucketed mode (the scale path) exercised end-to-end."""
    from schema_infer_plugin_spark.checks import ks_statistic

    base, cur = _split_runs(_transcripts(spark, sf_dir))
    return ks_statistic(base, cur, "turn_idx", n_buckets=_KS_BUCKETS)


ORACLE_KS_DRIFT = oracle_cte(
    f"""
, a AS (SELECT CAST(turn_idx AS DOUBLE) AS v FROM transcripts
       WHERE ({_SIDE_SQL}) AND turn_idx IS NOT NULL),
b AS (SELECT CAST(turn_idx AS DOUBLE) AS v FROM transcripts
      WHERE NOT ({_SIDE_SQL}) AND turn_idx IS NOT NULL),
bounds AS (SELECT min(v) AS lo, max(v) AS hi FROM (SELECT v FROM a UNION ALL SELECT v FROM b)),
qa AS (SELECT CASE WHEN hi = lo THEN lo
              ELSE lo + least(floor((v - lo) / ((hi - lo) / {_KS_BUCKETS})), {_KS_BUCKETS - 1}) * (hi - lo) / {_KS_BUCKETS} END AS v
       FROM a CROSS JOIN bounds),
qb AS (SELECT CASE WHEN hi = lo THEN lo
              ELSE lo + least(floor((v - lo) / ((hi - lo) / {_KS_BUCKETS})), {_KS_BUCKETS - 1}) * (hi - lo) / {_KS_BUCKETS} END AS v
       FROM b CROSS JOIN bounds),
counts AS (
  SELECT v, sum(ca) AS ca, sum(cb) AS cb
  FROM (SELECT v, 1 AS ca, 0 AS cb FROM qa UNION ALL SELECT v, 0 AS ca, 1 AS cb FROM qb)
  GROUP BY v),
cdf AS (
  SELECT v,
         CAST(sum(ca) OVER (ORDER BY v NULLS FIRST ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           / CAST(sum(ca) OVER () AS DOUBLE) AS cdf_a,
         CAST(sum(cb) OVER (ORDER BY v NULLS FIRST ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           / CAST(sum(cb) OVER () AS DOUBLE) AS cdf_b,
         sum(ca) OVER () AS n_a, sum(cb) OVER () AS n_b
  FROM counts),
d AS (SELECT v, abs(cdf_a - cdf_b) AS d, n_a, n_b FROM cdf),
m AS (SELECT *, max(d) OVER () AS dmx FROM d)
SELECT CAST(round(max(d), 6) AS DOUBLE) AS ks_stat,
       CAST(min(CASE WHEN d = dmx THEN v END) AS DOUBLE) AS ks_at,
       CAST(max(n_a) AS BIGINT) AS n_a, CAST(max(n_b) AS BIGINT) AS n_b
FROM m
"""
)


_COMPARE_BASE_COLS = ["role", "tool", "turn_idx"]
_COMPARE_CUR_COLS = ["role", "text", "turn_idx"]


def q_profile_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution verdicts on data profiles (plans/compare.py): profile
    two deterministic halves of the corpus over overlapping column sets
    (tool removed, text added) and classify every column OK/WARN/BREAKING."""
    from schema_infer_plugin_spark.plans.compare import profile_compare

    base, cur = _split_runs(_transcripts(spark, sf_dir))
    pb = profile(base, _COMPARE_BASE_COLS, approx_distinct=False, run_id="base")
    pc = profile(cur, _COMPARE_CUR_COLS, approx_distinct=False, run_id="cur")
    return profile_compare(pc, pb)


def _oracle_profile_lite(side_filter: str, cols: list[str]) -> str:
    """Per-column (col_name, inferred_type, total, nulls, dst) for one run
    side — the profile fields plans/compare.py consumes. String columns run
    the reference type ladder (same CASE as _duck_type_profile_sql); the
    non-string turn_idx reports its Spark type name like operators/profile.py.
    """
    parts = []
    for c in cols:
        if c == "turn_idx":
            parts.append(
                f"""
SELECT '{c}' AS col_name, 'int' AS inferred_type,
       CAST(count(*) AS BIGINT) AS total,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS dst
FROM transcripts WHERE {side_filter}"""
            )
            continue
        typ = (
            f"CASE WHEN {c} IS NULL THEN 'null' "
            f"WHEN lower({c}) IN ('true','false') THEN 'boolean' "
            f"WHEN regexp_matches(trim({c}), '{_INT_RE}') THEN 'int' "
            f"WHEN regexp_matches(trim({c}), '{_FLOAT_RE}') THEN 'float' "
            f"ELSE 'string' END"
        )
        parts.append(
            f"""
SELECT '{c}' AS col_name,
       CASE WHEN total - nulls = 0 THEN 'string'
            WHEN CAST(mx AS DOUBLE) / (total - nulls) < 0.8 AND n_types > 1 THEN 'union'
            WHEN cnt_boolean = mx THEN 'boolean' WHEN cnt_int = mx THEN 'int'
            WHEN cnt_float = mx THEN 'float' ELSE 'string' END AS inferred_type,
       total, nulls, dst
FROM (
  SELECT *, greatest(cnt_boolean, cnt_int, cnt_float, cnt_string) AS mx,
         (CASE WHEN cnt_boolean > 0 THEN 1 ELSE 0 END + CASE WHEN cnt_int > 0 THEN 1 ELSE 0 END
          + CASE WHEN cnt_float > 0 THEN 1 ELSE 0 END + CASE WHEN cnt_string > 0 THEN 1 ELSE 0 END) AS n_types
  FROM (
    SELECT
      CAST(sum(CASE WHEN typ = 'boolean' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_boolean,
      CAST(sum(CASE WHEN typ = 'int' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_int,
      CAST(sum(CASE WHEN typ = 'float' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_float,
      CAST(sum(CASE WHEN typ = 'string' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_string,
      CAST(count(*) AS BIGINT) AS total,
      CAST(sum(CASE WHEN typ = 'null' THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
      CAST(count(DISTINCT val) AS BIGINT) AS dst
    FROM (SELECT {c} AS val, {typ} AS typ FROM transcripts WHERE {side_filter})
  )
)"""
        )
    return " UNION ALL ".join(parts)


def _oracle_profile_compare() -> str:
    rank = (
        "CASE {t} WHEN 'boolean' THEN 0 WHEN 'int' THEN 1 WHEN 'float' THEN 2 "
        "WHEN 'string' THEN 3 WHEN 'union' THEN 3 ELSE NULL END"
    )
    return oracle_cte(
        f"""
, base AS ({_oracle_profile_lite(_SIDE_SQL, _COMPARE_BASE_COLS)}),
cur AS ({_oracle_profile_lite(f"NOT ({_SIDE_SQL})", _COMPARE_CUR_COLS)}),
j AS (
  SELECT coalesce(c.col_name, b.col_name) AS col_name,
         b.inferred_type AS type_base, c.inferred_type AS type_cur,
         CAST(round(CAST(b.nulls AS DOUBLE) / b.total, 6) AS DOUBLE) AS null_rate_base,
         CAST(round(CAST(c.nulls AS DOUBLE) / c.total, 6) AS DOUBLE) AS null_rate_cur,
         b.nulls AS null_count_base, c.nulls AS null_count_cur,
         b.dst AS distinct_base, c.dst AS distinct_cur
  FROM cur c FULL OUTER JOIN base b ON c.col_name = b.col_name),
v AS (
  SELECT *,
         CASE WHEN type_base IS NULL THEN 'added'
              WHEN type_cur IS NULL THEN 'removed' ELSE 'common' END AS status,
         CASE WHEN type_base IS NULL OR type_cur IS NULL THEN NULL
              WHEN type_base = type_cur THEN 'same'
              WHEN {rank.format(t="type_base")} IS NULL OR {rank.format(t="type_cur")} IS NULL THEN 'changed'
              WHEN {rank.format(t="type_cur")} > {rank.format(t="type_base")} THEN 'widened'
              ELSE 'narrowed' END AS type_change,
         CASE WHEN type_base IS NOT NULL AND type_cur IS NOT NULL
              THEN CAST(round(null_rate_cur - null_rate_base, 6) AS DOUBLE)
              END AS null_rate_delta
  FROM j)
SELECT '_global_' AS partition_key, col_name, status, type_base, type_cur, type_change,
       null_rate_base, null_rate_cur, null_rate_delta, distinct_base, distinct_cur,
       CASE WHEN status = 'removed' THEN 'BREAKING'
            WHEN type_change IN ('narrowed', 'changed') THEN 'BREAKING'
            WHEN status = 'common' AND null_count_base = 0 AND null_count_cur > 0 THEN 'BREAKING'
            WHEN status = 'added' THEN 'WARN'
            WHEN type_change = 'widened' THEN 'WARN'
            WHEN null_rate_delta > 0.01 THEN 'WARN'
            WHEN status = 'common' AND distinct_base > 0 AND distinct_cur > 0
                 AND (distinct_cur > distinct_base * 2.0 OR distinct_base > distinct_cur * 2.0) THEN 'WARN'
            ELSE 'OK' END AS verdict
FROM v
"""
    )


_PACK_BUDGET = 512
_PACK_SHARDS = 8


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing over documents (datapipe/packing.py):
    deterministic concat-and-cut slot assignment — the training-batch
    assembly step, one window prefix sum per md5 shard."""
    from schema_infer_plugin_spark.datapipe import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(
        docs, "doc_id", budget=_PACK_BUDGET, n_shards=_PACK_SHARDS, text_col="text"
    )


ORACLE_PACK_SEQUENCES = rf"""
WITH base AS (
  SELECT doc_id,
         CAST(CAST(concat('0x', substr(md5(concat('0:', doc_id)), 1, 15)) AS BIGINT) % {_PACK_SHARDS} AS INT) AS shard,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
  FROM documents),
o AS (
  SELECT doc_id, shard, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id NULLS FIRST
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS start_offset
  FROM base)
SELECT doc_id, shard, n_tokens, start_offset,
       CAST((start_offset - start_offset % {_PACK_BUDGET}) / {_PACK_BUDGET} AS BIGINT) AS seq_idx,
       CAST(start_offset % {_PACK_BUDGET} AS BIGINT) AS seq_offset,
       CAST(((start_offset + greatest(n_tokens, 1) - 1) - (start_offset + greatest(n_tokens, 1) - 1) % {_PACK_BUDGET}) / {_PACK_BUDGET}
            - (start_offset - start_offset % {_PACK_BUDGET}) / {_PACK_BUDGET} + 1 AS BIGINT) AS n_seqs_spanned
FROM o
"""


#: shared MinHash-LSH candidate chain (identical to ORACLE_MINHASH_LSH /
#: ORACLE_DEDUP_COMPONENTS) for oracles that build on the pair graph
_MINHASH_CAND_CTES = rf"""
toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM corpus),
sh AS (SELECT doc_id,
              unnest(list_distinct(list_transform(generate_series(1, greatest(len(tk)-2, 1)),
                                                  i -> array_to_string(tk[i:i+2], ' ')))) AS sh
       FROM toks),
hh AS (SELECT doc_id,
              CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT) % 2147483647 AS h1,
              CAST(concat('0x', substr(md5(sh), 9, 8)) AS BIGINT) % 2147483647 AS h2
       FROM sh),
sig AS (SELECT doc_id, [{", ".join(f"min((h1 + {i} * h2) % 2147483647)" for i in range(16))}] AS sig
        FROM hh GROUP BY doc_id),
banded AS (SELECT doc_id, sig, b, md5(array_to_string(sig[b*4+1:b*4+4], '|')) AS bh
           FROM sig CROSS JOIN generate_series(0, 3) AS t(b)),
cand AS (SELECT id_a, id_b FROM (
           SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
                  CAST(len(list_filter(generate_series(1, 16), i -> l.sig[i] = r.sig[i])) AS DOUBLE)/16 AS ej
           FROM banded l JOIN banded r ON l.b = r.b AND l.bh = r.bh AND l.doc_id < r.doc_id)
         WHERE ej >= 0.5)"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LSH dedup (datapipe/dedup.lsh_pairs_vs_index): the mutated
    copies (doc_id ≥ 100000) arrive as a NEW BATCH and are matched against
    the band index of the original corpus only — band the increment, one
    equi-join against the stored bands, history never re-shingled."""
    from schema_infer_plugin_spark.datapipe import (
        banded_signatures,
        lsh_pairs_vs_index,
        minhash_signatures,
    )

    corpus = _mutated_corpus(spark, sf_dir)
    old = corpus.filter(F.col("doc_id") < 100000)
    new = corpus.filter(F.col("doc_id") >= 100000)
    index = banded_signatures(
        minhash_signatures(old, "doc_id", "text", num_hashes=16, shingle_k=3),
        "doc_id",
        bands=4,
    )
    sig_new = minhash_signatures(new, "doc_id", "text", num_hashes=16, shingle_k=3)
    return lsh_pairs_vs_index(sig_new, index, "doc_id", min_est_jaccard=0.5, bands=4)


ORACLE_DEDUP_INCREMENTAL = rf"""
WITH {_CORPUS_CTE},
{_MINHASH_CAND_CTES.split("cand AS")[0].rstrip().rstrip(",")}
SELECT DISTINCT n.doc_id AS id_new, o.doc_id AS id_old,
       CAST(len(list_filter(generate_series(1, 16), i -> n.sig[i] = o.sig[i])) AS DOUBLE)/16
         AS est_jaccard
FROM banded n JOIN banded o ON n.b = o.b AND n.bh = o.bh
WHERE n.doc_id >= 100000 AND o.doc_id < 100000
  AND CAST(len(list_filter(generate_series(1, 16), i -> n.sig[i] = o.sig[i])) AS DOUBLE)/16 >= 0.5
"""


def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 word 3-grams by document frequency (datapipe/text.
    boilerplate_ngrams) — the corpus's boilerplate, i.e. exactly the
    shingles the dedup joins' stop-shingle guard would cut. Hash agg +
    distributed TakeOrdered; no global window."""
    from schema_infer_plugin_spark.datapipe import boilerplate_ngrams

    d = _fan(spark, load_table(spark, sf_dir, "documents").select("text"))
    return boilerplate_ngrams(d, "text", shingle_k=3, top_n=20)


ORACLE_BOILERPLATE = r"""
WITH toks AS (SELECT regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
sh AS (SELECT unnest(list_distinct(list_transform(generate_series(1, greatest(len(tk)-2, 1)),
                                                  i -> array_to_string(tk[i:i+2], ' ')))) AS shingle
       FROM toks)
SELECT shingle, CAST(count(*) AS BIGINT) AS doc_freq
FROM sh GROUP BY shingle
ORDER BY doc_freq DESC, shingle ASC LIMIT 20
"""


def q_dup_ngram_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated 3-gram rate over the mutated corpus
    (datapipe/text.dup_ngram_rate): fraction of each doc's distinct shingles
    that occur in at least one other doc — the Lee-et-al document-level
    duplication signal. No pair join, so no skew guard needed."""
    from schema_infer_plugin_spark.datapipe import dup_ngram_rate

    return dup_ngram_rate(_mutated_corpus(spark, sf_dir), "doc_id", "text", shingle_k=3)


ORACLE_DUP_NGRAM_RATE = rf"""
WITH {_CORPUS_CTE},
toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM corpus),
sh AS (SELECT doc_id,
              unnest(list_distinct(list_transform(generate_series(1, greatest(len(tk)-2, 1)),
                                                  i -> array_to_string(tk[i:i+2], ' ')))) AS sh
       FROM toks),
freq AS (SELECT sh, count(*) AS dfreq FROM sh GROUP BY sh)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN dfreq >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_shingles,
       CAST(round(sum(CASE WHEN dfreq >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS DOUBLE) AS dup_rate
FROM sh JOIN freq USING (sh)
GROUP BY doc_id
"""


def q_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate-pair matrix (datapipe/dedup.
    contamination_matrix): MinHash-LSH pairs over the mutated corpus rolled
    up by synthetic source bracket (orig / near-copy / exact-copy) — the
    curation view showing which sources mirror each other."""
    from schema_infer_plugin_spark.datapipe import (
        contamination_matrix,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    corpus = _mutated_corpus(spark, sf_dir)
    sig = minhash_signatures(corpus, "doc_id", "text", num_hashes=16, shingle_k=3)
    pairs = lsh_candidate_pairs(sig, "doc_id", bands=4, min_est_jaccard=0.5)
    groups = corpus.select(
        "doc_id",
        F.when(F.col("doc_id") < 100000, "orig")
        .when(F.col("doc_id") < 200000, "near")
        .otherwise("exact")
        .alias("src"),
    )
    return contamination_matrix(groups, pairs, "doc_id", "src")


ORACLE_CONTAMINATION_MATRIX = rf"""
WITH {_CORPUS_CTE},
{_MINHASH_CAND_CTES},
grp AS (SELECT doc_id,
               CASE WHEN doc_id < 100000 THEN 'orig'
                    WHEN doc_id < 200000 THEN 'near'
                    ELSE 'exact' END AS src
        FROM corpus)
SELECT least(ga.src, gb.src) AS group_a, greatest(ga.src, gb.src) AS group_b,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM cand
JOIN grp ga ON cand.id_a = ga.doc_id
JOIN grp gb ON cand.id_b = gb.doc_id
GROUP BY 1, 2
"""


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-doc selection per duplicate cluster (datapipe/graph.py
    canonical_docs): MinHash-LSH pairs → connected components → keep the
    LONGEST doc per cluster (ties: smallest id); singletons keep themselves.
    The step that turns near-dup pairs into a deduplicated corpus."""
    from schema_infer_plugin_spark.datapipe import (
        canonical_docs,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    corpus = _mutated_corpus(spark, sf_dir)
    sig = minhash_signatures(corpus, "doc_id", "text", num_hashes=16, shingle_k=3)
    pairs = lsh_candidate_pairs(sig, "doc_id", bands=4, min_est_jaccard=0.5)
    docs = corpus.select("doc_id", F.length("text").cast("long").alias("q"))
    return canonical_docs(docs, pairs, id_col="doc_id", quality_col="q")


ORACLE_DEDUP_CANONICAL = rf"""
WITH RECURSIVE {_CORPUS_CTE},
{_MINHASH_CAND_CTES},
edges AS (SELECT id_a AS s, id_b AS d FROM cand UNION SELECT id_b, id_a FROM cand),
reach AS (SELECT s, d FROM edges
          UNION
          SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
comp AS (SELECT s AS doc_id, least(s, min(d)) AS component FROM reach GROUP BY s),
lab AS (SELECT c.doc_id, CAST(length(c.text) AS BIGINT) AS q,
               CAST(coalesce(p.component, c.doc_id) AS BIGINT) AS component
        FROM corpus c LEFT JOIN comp p ON c.doc_id = p.doc_id),
best AS (SELECT component, doc_id AS canonical_id,
                row_number() OVER (PARTITION BY component
                                   ORDER BY q DESC, doc_id ASC) AS rn
         FROM lab)
SELECT l.doc_id, l.component, CAST(b.canonical_id AS BIGINT) AS canonical_id,
       l.doc_id = b.canonical_id AS keep
FROM lab l JOIN (SELECT component, canonical_id FROM best WHERE rn = 1) b
  USING (component)
"""


def q_dedup_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level dedup impact (datapipe/graph.dedup_impact_report): the
    cluster-size histogram + drop accounting over the same MinHash-LSH pair
    graph as dedup_components — the one-number reduction a cleaning pipeline
    quotes, plus whether duplication is a pair tail or viral clusters.
    Iterative components, still oracle-checked via the recursive CTE."""
    from schema_infer_plugin_spark.datapipe import (
        dedup_impact_report,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    corpus = _mutated_corpus(spark, sf_dir)
    sig = minhash_signatures(corpus, "doc_id", "text", num_hashes=16, shingle_k=3)
    pairs = lsh_candidate_pairs(sig, "doc_id", bands=4, min_est_jaccard=0.5)
    return dedup_impact_report(corpus.select("doc_id"), pairs, id_col="doc_id")


ORACLE_DEDUP_IMPACT = rf"""
WITH RECURSIVE {_CORPUS_CTE},
{_MINHASH_CAND_CTES},
edges AS (SELECT id_a AS s, id_b AS d FROM cand UNION SELECT id_b, id_a FROM cand),
reach AS (SELECT s, d FROM edges
          UNION
          SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
comp AS (SELECT s AS doc_id, least(s, min(d)) AS component FROM reach GROUP BY s),
lab AS (SELECT coalesce(p.component, c.doc_id) AS component
        FROM corpus c LEFT JOIN comp p ON c.doc_id = p.doc_id),
sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
          FROM lab GROUP BY component),
hist AS (SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         FROM sizes GROUP BY cluster_size),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lab)
SELECT cluster_size, n_clusters,
       cluster_size * n_clusters AS n_docs,
       (cluster_size - 1) * n_clusters AS n_dropped,
       CAST(round(cluster_size * n_clusters * 1.0 / tot.n, 6) AS DOUBLE) AS corpus_share
FROM hist, tot
"""


#: containment corpus: documents ∪ 10-token snippets of every 5th doc —
#: snippets are true subsets, the asymmetric case Jaccard misses
_CONTAIN_CTE = r"""
ccorpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 300000 AS doc_id,
         array_to_string((regexp_split_to_array(trim(text), '\s+'))[1:10], ' ') AS text
  FROM documents WHERE doc_id % 5 = 0
)"""


def q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment (datapipe/dedup.ngram_containment_pairs)
    over documents ∪ planted 10-token snippets: every snippet must surface
    with cont ≈ 1 from its side even though its Jaccard vs the full doc is
    tiny — the subset case exact-Jaccard dedup misses."""
    from schema_infer_plugin_spark.datapipe import ngram_containment_pairs

    d = _fan(spark, load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    snippets = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.array_join(F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 10), " ").alias("text"),
    )
    corpus = d.unionByName(snippets)
    return ngram_containment_pairs(
        corpus, "doc_id", "text", shingle_k=3, min_containment=0.9
    )


ORACLE_NGRAM_CONTAINMENT = rf"""
WITH {_CONTAIN_CTE},
ctoks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM ccorpus),
sh0 AS (SELECT doc_id,
               unnest(list_distinct(list_transform(generate_series(1, greatest(len(tk)-2, 1)),
                                                   i -> array_to_string(tk[i:i+2], ' ')))) AS sh
        FROM ctoks),
ok AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 1000),
shf AS (SELECT sh0.doc_id, sh0.sh FROM sh0 JOIN ok USING (sh)),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM shf GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS i
          FROM shf a JOIN shf b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT id_a, id_b,
       CAST(round(CAST(i AS DOUBLE) / sa.sz, 6) AS DOUBLE) AS cont_a_in_b,
       CAST(round(CAST(i AS DOUBLE) / sb.sz, 6) AS DOUBLE) AS cont_b_in_a,
       CAST(round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON inter.id_a = sa.doc_id
JOIN sizes sb ON inter.id_b = sb.doc_id
WHERE round(CAST(i AS DOUBLE) / sa.sz, 6) >= 0.9
   OR round(CAST(i AS DOUBLE) / sb.sz, 6) >= 0.9
"""


_HOT_TOP_N = 20


def q_conv_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnosis (checks/skew.py): the 20 hottest conv_ids with their
    share and cumulative share of all turns — the measurement that decides
    when/what to salt. One exchange + TakeOrdered; no global sort."""
    from schema_infer_plugin_spark.checks import hot_key_report

    return hot_key_report(_transcripts(spark, sf_dir), "conv_id", _HOT_TOP_N)


ORACLE_CONV_HOT_KEYS = oracle_cte(
    f"""
, counts AS (SELECT conv_id AS key, CAST(count(*) AS BIGINT) AS cnt
             FROM transcripts GROUP BY conv_id),
tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM counts),
top AS (SELECT key, cnt FROM counts ORDER BY cnt DESC, key ASC NULLS FIRST LIMIT {_HOT_TOP_N})
SELECT CAST(row_number() OVER (ORDER BY cnt DESC, key ASC NULLS FIRST) AS INT) AS rank,
       key, cnt,
       CAST(round(cnt / (SELECT total FROM tot), 6) AS DOUBLE) AS share,
       CAST(round(sum(cnt) OVER (ORDER BY cnt DESC, key ASC NULLS FIRST
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            / (SELECT total FROM tot), 6) AS DOUBLE) AS cum_share
FROM top
"""
)


def q_conv_group_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row group-size distribution under conv_id (checks/skew.py) —
    skew_factor = max/avg is the salting trigger."""
    from schema_infer_plugin_spark.checks import group_size_stats

    return group_size_stats(_transcripts(spark, sf_dir), "conv_id")


ORACLE_CONV_GROUP_SIZES = oracle_cte(
    """
, counts AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM transcripts GROUP BY conv_id)
SELECT CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(cnt) AS BIGINT) AS n_rows,
       CAST(min(cnt) AS BIGINT) AS min_size,
       CAST(max(cnt) AS BIGINT) AS max_size,
       CAST(round(avg(cnt), 6) AS DOUBLE) AS avg_size,
       CAST(round(max(cnt) / avg(cnt), 6) AS DOUBLE) AS skew_factor
FROM counts
"""
)


def q_conv_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation inter-turn latency profile (checks/temporal.py) —
    epoch-microsecond gaps over the contiguity window, user→assistant
    response latency split out."""
    from schema_infer_plugin_spark.checks import conv_latency_stats

    return conv_latency_stats(_transcripts(spark, sf_dir))


ORACLE_CONV_LATENCY = oracle_cte(
    """
, lagged AS (
  SELECT conv_id,
         epoch_us(CAST(ts AS TIMESTAMP)) - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS gap_us,
         CASE WHEN lag(role) OVER w = 'user' AND role = 'assistant'
              THEN epoch_us(CAST(ts AS TIMESTAMP)) - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w
         END AS resp_us
  FROM transcripts WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL
  WINDOW w AS (PARTITION BY conv_id
               ORDER BY turn_idx ASC, ts ASC NULLS FIRST, role ASC NULLS FIRST))
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(count(gap_us) AS BIGINT) AS n_gaps,
       CAST(CAST(sum(gap_us) AS DOUBLE) / count(gap_us) AS DOUBLE) AS mean_gap_us,
       CAST(max(gap_us) AS BIGINT) AS max_gap_us,
       CAST(count(resp_us) AS BIGINT) AS n_responses,
       CAST(CAST(sum(resp_us) AS DOUBLE) / count(resp_us) AS DOUBLE) AS mean_response_us
FROM lagged GROUP BY conv_id
"""
)


# ---------------------------------------------------------------------------
# audit + retrieval (round 3): referential integrity, snapshot diff,
# pattern conformity, BM25 keyword retrieval
# ---------------------------------------------------------------------------


def q_fk_users_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential integrity (checks/referential.fk_orphans): events whose
    user_id is missing from a users registry (derived here by dropping every
    41st user — simulating a dimension that lost rows). Broadcast anti-join;
    output grouped to orphan keys with row counts."""
    from schema_infer_plugin_spark.checks.referential import fk_orphans

    ev = load_table(spark, sf_dir, "events")
    users = ev.filter(F.col("user_id") % 41 != 0).select("user_id").distinct()
    return (
        fk_orphans(ev, users, ["user_id"])
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )


ORACLE_FK_USERS = """
WITH users AS (SELECT DISTINCT user_id FROM events WHERE user_id % 41 <> 0)
SELECT e.user_id, CAST(count(*) AS BIGINT) AS n_rows
FROM events e
WHERE e.user_id IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM users u WHERE u.user_id = e.user_id)
GROUP BY e.user_id
"""


def q_fk_users_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-level FK rollup (checks/referential.fk_verdict): one shuffle via
    tagged union + hash agg — the both-sides-huge shape (no join, no
    broadcast); childless parents ride the same aggregate."""
    from schema_infer_plugin_spark.checks.referential import fk_verdict

    ev = load_table(spark, sf_dir, "events")
    users = ev.filter(F.col("user_id") % 41 != 0).select("user_id").distinct()
    return fk_verdict(ev, users, ["user_id"])


ORACLE_FK_VERDICT = """
WITH users AS (SELECT DISTINCT user_id FROM events WHERE user_id % 41 <> 0),
ckeys AS (SELECT user_id, count(*) AS n FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
cov AS (
  SELECT coalesce(c.user_id, u.user_id) AS user_id,
         coalesce(c.n, 0) AS n_child_rows,
         u.user_id IS NOT NULL AS in_parent
  FROM ckeys c FULL OUTER JOIN users u ON c.user_id = u.user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(CASE WHEN NOT in_parent THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_keys,
       CAST(sum(CASE WHEN NOT in_parent THEN n_child_rows ELSE 0 END) AS BIGINT) AS n_orphan_rows,
       CAST(sum(CASE WHEN n_child_rows = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_childless_parents,
       sum(CASE WHEN NOT in_parent THEN 1 ELSE 0 END) = 0 AS passed
FROM cov
"""


def q_orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (checks/snapshot_diff): orders vs a deterministically
    mutated next snapshot — every 97th key deleted, every 89th key's
    o_totalprice bumped, every 83rd key re-inserted under a shifted key.
    One tagged-union shuffle of (key, hash) rows, never the payload."""
    from schema_infer_plugin_spark.checks.snapshot_diff import snapshot_diff

    old = load_table(spark, sf_dir, "orders")
    kept = old.filter(F.col("o_orderkey") % 97 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 89 == 0, F.col("o_totalprice") + F.lit(1.5)
        ).otherwise(F.col("o_totalprice")),
    )
    inserted = old.filter(F.col("o_orderkey") % 83 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(1_000_000_000)
    )
    new = kept.unionByName(inserted)
    return snapshot_diff(old, new, ["o_orderkey"])


ORACLE_SNAPSHOT_DIFF = """
WITH old AS (SELECT o_orderkey FROM orders),
changed AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 97 <> 0 AND o_orderkey % 89 = 0),
removed AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0),
added AS (SELECT o_orderkey + 1000000000 AS o_orderkey FROM orders WHERE o_orderkey % 83 = 0)
SELECT o_orderkey, 'changed' AS change, CAST(1 AS BIGINT) AS n_old, CAST(1 AS BIGINT) AS n_new FROM changed
UNION ALL
SELECT o_orderkey, 'removed', CAST(1 AS BIGINT), CAST(0 AS BIGINT) FROM removed
UNION ALL
SELECT o_orderkey, 'added', CAST(0 AS BIGINT), CAST(1 AS BIGINT) FROM added
"""


def q_pattern_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern-conformity violations (checks/patterns.pattern_violations):
    event_type constrained to the four expected kinds — the fixture's 'error'
    rows are the violations. Pure codegen filter, zero shuffle."""
    from schema_infer_plugin_spark.checks.patterns import pattern_violations

    ev = load_table(spark, sf_dir, "events")
    return pattern_violations(
        ev, "event_type", r"^(click|view|signup|purchase)$", keys=["event_id"]
    )


ORACLE_PATTERN_EVENT_TYPE = """
SELECT event_id, 'event_type' AS col_name, event_type AS observed
FROM events
WHERE event_type IS NOT NULL
  AND NOT regexp_matches(event_type, '^(click|view|signup|purchase)$')
"""


def q_pattern_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column conformity rollup (checks/patterns.pattern_match_rates):
    every rule rides one wide aggregation over a single scan."""
    from schema_infer_plugin_spark.checks.patterns import pattern_match_rates

    ev = load_table(spark, sf_dir, "events")
    return pattern_match_rates(
        ev,
        {
            "event_type": r"^(click|view|signup|purchase)$",
            "props": r'^\{"k": [0-9]+\}$',
        },
    )


ORACLE_PATTERN_RATES = r"""
WITH w AS (
  SELECT count(*) AS total,
         sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS et_null,
         sum(CASE WHEN event_type IS NOT NULL
                   AND NOT regexp_matches(event_type, '^(click|view|signup|purchase)$')
              THEN 1 ELSE 0 END) AS et_viol,
         sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS pr_null,
         sum(CASE WHEN props IS NOT NULL
                   AND NOT regexp_matches(props, '^\{"k": [0-9]+\}$')
              THEN 1 ELSE 0 END) AS pr_viol
  FROM events
)
SELECT 'event_type' AS col_name, '^(click|view|signup|purchase)$' AS pattern,
       CAST(total AS BIGINT) AS n_rows, CAST(et_null AS BIGINT) AS n_null,
       CAST(et_viol AS BIGINT) AS n_violations,
       CAST(round(1.0 - CAST(et_viol AS DOUBLE) / nullif(total - et_null, 0), 6) AS DOUBLE) AS match_rate
FROM w
UNION ALL
SELECT 'props', '^\{"k": [0-9]+\}$',
       CAST(total AS BIGINT), CAST(pr_null AS BIGINT), CAST(pr_viol AS BIGINT),
       CAST(round(1.0 - CAST(pr_viol AS DOUBLE) / nullif(total - pr_null, 0), 6) AS DOUBLE)
FROM w
"""

_BM25_TERMS = ["spark", "shuffle", "window"]
_BM25_K = 25


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (datapipe/retrieval.bm25_topk): top-k documents
    for a 3-term query — per-row single-traversal tf fold, one-row corpus
    stats broadcast back, distributed TakeOrdered for the top-k (no explode,
    no inverted-index shuffle)."""
    from schema_infer_plugin_spark.datapipe.retrieval import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, "doc_id", "text", _BM25_TERMS, k=_BM25_K)


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-5 TF-IDF terms (datapipe/retrieval.tfidf_top_terms):
    keyword extraction with smoothed idf, score rounded to 6 decimals before
    the per-doc bounded ranking window, term tie-break."""
    from schema_infer_plugin_spark.datapipe.retrieval import tfidf_top_terms

    docs = _fan(spark, load_table(spark, sf_dir, "documents"))
    return tfidf_top_terms(docs, "doc_id", "text", top_k=5)


ORACLE_TFIDF_TOP_TERMS = r"""
WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok0 FROM documents),
t2 AS (SELECT doc_id, lower(tok0) AS term FROM toks WHERE length(tok0) > 0),
f AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t2 GROUP BY doc_id, term),
d AS (SELECT term, count(*) AS df FROM f GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (SELECT f.doc_id, f.term, f.tf,
                  CAST(round(f.tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS DOUBLE) AS score
           FROM f JOIN d ON f.term = d.term CROSS JOIN n)
SELECT doc_id, term, tf, score FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rn
  FROM scored)
WHERE rn <= 5
"""


def _oracle_bm25(terms: list[str], k: int, k1: float = 1.2, b: float = 0.75) -> str:
    """DuckDB mirror of bm25_topk with identical arithmetic association, so
    pre-rounding doubles agree bit-for-bit (see retrieval.py docstring)."""
    tf = ", ".join(f"len(list_filter(tk, x -> x = '{t}'))" for t in terms)
    dfs = ", ".join(
        f"sum(CASE WHEN tf[{i + 1}] > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(terms))
    )
    score = " + ".join(
        f"ln(1.0 + (n - df_{i} + 0.5) / (df_{i} + 0.5))"
        f" * (CAST(tf[{i + 1}] AS DOUBLE) * {k1 + 1.0!r})"
        f" / (CAST(tf[{i + 1}] AS DOUBLE) + {k1!r} * ({1.0 - b!r} + {b!r} * dl / avgdl))"
        for i in range(len(terms))
    )
    hits = " + ".join(
        f"CASE WHEN tf[{i + 1}] > 0 THEN 1 ELSE 0 END" for i in range(len(terms))
    )
    return rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(list_transform(regexp_split_to_array(trim(text), '\s+'),
                                    x -> lower(x)),
                     x -> length(x) > 0) AS tk
  FROM documents
),
per AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl, [{tf}] AS tf FROM toks),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
         {dfs}
  FROM per
),
scored AS (
  SELECT doc_id,
         CAST({hits} AS INT) AS n_matched_terms,
         CAST(round({score}, 6) AS DOUBLE) AS score
  FROM per CROSS JOIN stats
)
SELECT doc_id, n_matched_terms, score
FROM scored WHERE score > 0
ORDER BY score DESC, doc_id
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# liveness + information-theoretic + vector drift (round 3): freshness SLA,
# calendar coverage, Wasserstein-1 drift, entropy/MI profiles, centroid drift
# ---------------------------------------------------------------------------

_FRESH_AS_OF = "2024-02-01 00:00:00"
_FRESH_MAX_LAG_H = 48.0


def q_events_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type staleness lag vs a deterministic as-of instant
    (checks/freshness.freshness): one hash aggregation, epoch-µs lag math —
    the distributed generalization of the reference's per-topic emptiness
    probe (/root/reference/schema_infer/plugin/optimistic.py:440-486)."""
    from schema_infer_plugin_spark.checks.freshness import freshness

    ev = load_table(spark, sf_dir, "events")
    return freshness(
        ev,
        "ts",
        as_of=_FRESH_AS_OF,
        max_lag_hours=_FRESH_MAX_LAG_H,
        group_cols=["event_type"],
    )


ORACLE_FRESHNESS = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       max(epoch_us(ts)) AS max_ts_us,
       CAST(epoch_us(TIMESTAMP '{_FRESH_AS_OF}') - max(epoch_us(ts)) AS BIGINT) AS lag_us,
       coalesce(
         epoch_us(TIMESTAMP '{_FRESH_AS_OF}') - max(epoch_us(ts))
           <= {int(_FRESH_MAX_LAG_H * 3_600_000_000)},
         false
       ) AS passed
FROM events
GROUP BY event_type
"""


def q_events_coverage_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour buckets with ZERO signup events between the slice's min and max
    (checks/freshness.coverage_gaps): one aggregation to the bounded bucket
    frame, gaps from one lead() window — the input is scanned exactly once.
    Bucket start emitted as epoch-µs (timestamps compare via unix_micros —
    CLAUDE.md rendering gotcha)."""
    from schema_infer_plugin_spark.checks.freshness import coverage_gaps

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    return coverage_gaps(ev, "ts", unit="hour", max_gap_buckets=100_000).select(
        F.unix_micros(F.col("bucket_start")).alias("bucket_start_us"),
        "bucket_idx",
        "truncated",
    )


# The oracle mirrors the default max_gap_buckets=100000 sentinel-timestamp
# guard exactly: gap end = least(nxt-1, b+100000), truncated flag per row.
ORACLE_COVERAGE_GAPS = """
WITH obs AS (
  SELECT CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS b
  FROM events WHERE event_type = 'signup' AND ts IS NOT NULL
  GROUP BY 1
),
g AS (SELECT b, lead(b) OVER (ORDER BY b NULLS FIRST) AS nxt FROM obs)
SELECT CAST(bucket_idx * 3600000000 AS BIGINT) AS bucket_start_us,
       CAST(bucket_idx AS BIGINT) AS bucket_idx,
       truncated
FROM (SELECT unnest(generate_series(b + 1, least(nxt - 1, b + 100000))) AS bucket_idx,
             (nxt - b - 1 > 100000) AS truncated
      FROM g WHERE nxt - b > 1)
"""

_W1_BUCKETS = 1000


def q_wasserstein_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 distance between click and purchase `value`
    distributions (checks/ksdrift.wasserstein_statistic): quantized-grid
    two-sample earth-mover — the integral companion to the KS sup, on the
    same bounded-CDF machinery."""
    from schema_infer_plugin_spark.checks.ksdrift import wasserstein_statistic

    ev = load_table(spark, sf_dir, "events")
    return wasserstein_statistic(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        "value",
        n_buckets=_W1_BUCKETS,
    )


ORACLE_W1_DRIFT = f"""
WITH a AS (SELECT CAST(value AS DOUBLE) AS v FROM events
           WHERE event_type = 'click' AND value IS NOT NULL),
b AS (SELECT CAST(value AS DOUBLE) AS v FROM events
      WHERE event_type = 'purchase' AND value IS NOT NULL),
bounds AS (SELECT min(v) AS lo, max(v) AS hi
           FROM (SELECT v FROM a UNION ALL SELECT v FROM b)),
qa AS (SELECT CASE WHEN hi = lo THEN lo
              ELSE lo + least(floor((v - lo) / ((hi - lo) / {_W1_BUCKETS})), {_W1_BUCKETS - 1}) * (hi - lo) / {_W1_BUCKETS} END AS v
       FROM a CROSS JOIN bounds),
qb AS (SELECT CASE WHEN hi = lo THEN lo
              ELSE lo + least(floor((v - lo) / ((hi - lo) / {_W1_BUCKETS})), {_W1_BUCKETS - 1}) * (hi - lo) / {_W1_BUCKETS} END AS v
       FROM b CROSS JOIN bounds),
counts AS (
  SELECT v, sum(ca) AS ca, sum(cb) AS cb
  FROM (SELECT v, 1 AS ca, 0 AS cb FROM qa UNION ALL SELECT v, 0 AS ca, 1 AS cb FROM qb)
  GROUP BY v),
cdf AS (
  SELECT v,
         CAST(sum(ca) OVER (ORDER BY v NULLS FIRST ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           / CAST(sum(ca) OVER () AS DOUBLE) AS cdf_a,
         CAST(sum(cb) OVER (ORDER BY v NULLS FIRST ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           / CAST(sum(cb) OVER () AS DOUBLE) AS cdf_b,
         sum(ca) OVER () AS n_a, sum(cb) OVER () AS n_b,
         lead(v) OVER (ORDER BY v NULLS FIRST) AS nxt
  FROM counts)
SELECT CASE WHEN max(n_a) > 0 AND max(n_b) > 0
            THEN CAST(coalesce(round(sum((nxt - v) * abs(cdf_a - cdf_b)), 6) + 0.0, 0.0) AS DOUBLE)
       END AS w1,
       CAST(max(n_a) AS BIGINT) AS n_a, CAST(max(n_b) AS BIGINT) AS n_b
FROM cdf
"""


def q_transcripts_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the role and tool columns
    (checks/entropy.categorical_entropy): one melt-scan, one hash agg —
    concentration drift the distinct-count can't see."""
    from schema_infer_plugin_spark.checks.entropy import categorical_entropy

    return categorical_entropy(_transcripts(spark, sf_dir), ["role", "tool"])


ORACLE_ENTROPY = oracle_cte(
    """
, melted AS (
  SELECT 'role' AS col_name, role AS value FROM transcripts
  UNION ALL
  SELECT 'tool' AS col_name, tool AS value FROM transcripts
),
counts AS (
  SELECT col_name, value, count(*) AS c
  FROM melted WHERE value IS NOT NULL GROUP BY col_name, value
)
SELECT col_name,
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(round(ln(CAST(sum(c) AS DOUBLE))
                  - sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) / CAST(sum(c) AS DOUBLE),
                  6) + 0.0 AS DOUBLE) AS entropy,
       CASE WHEN count(*) > 1 THEN
         CAST(round((ln(CAST(sum(c) AS DOUBLE))
                     - sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) / CAST(sum(c) AS DOUBLE))
                    / ln(CAST(count(*) AS DOUBLE)),
                    6) + 0.0 AS DOUBLE)
       ELSE 0.0 END AS norm_entropy
FROM counts GROUP BY col_name
"""
)


def q_transcripts_role_tool_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between role and tool
    (checks/entropy.mutual_information): the soft companion to the hard
    tool-requires-role rule — one full-table shuffle to the joint counts,
    marginals re-aggregated from the bounded joint frame."""
    from schema_infer_plugin_spark.checks.entropy import mutual_information

    return mutual_information(_transcripts(spark, sf_dir), "role", "tool")


ORACLE_ROLE_TOOL_MI = oracle_cte(
    """
, pairs AS (
  SELECT role AS a, tool AS b, count(*) AS c_ab
  FROM transcripts WHERE role IS NOT NULL AND tool IS NOT NULL
  GROUP BY role, tool
),
ma AS (SELECT a, sum(c_ab) AS c_a FROM pairs GROUP BY a),
mb AS (SELECT b, sum(c_ab) AS c_b FROM pairs GROUP BY b),
j AS (SELECT pairs.a, pairs.b, pairs.c_ab, ma.c_a, mb.c_b
      FROM pairs JOIN ma ON pairs.a = ma.a JOIN mb ON pairs.b = mb.b),
t AS (
  SELECT c_ab,
         CAST(c_ab AS DOUBLE)
           * ln((CAST(c_ab AS DOUBLE) * CAST(sum(c_ab) OVER () AS DOUBLE))
                / (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))) AS t_mi,
         CAST(c_ab AS DOUBLE) * ln(CAST(c_a AS DOUBLE)) AS t_ha,
         CAST(c_ab AS DOUBLE) * ln(CAST(c_b AS DOUBLE)) AS t_hb
  FROM j
)
SELECT CAST(sum(c_ab) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(round(sum(t_mi) / CAST(sum(c_ab) AS DOUBLE), 6) + 0.0 AS DOUBLE) AS mi,
       CASE WHEN round(least(ln(CAST(sum(c_ab) AS DOUBLE)) - sum(t_ha) / CAST(sum(c_ab) AS DOUBLE),
                             ln(CAST(sum(c_ab) AS DOUBLE)) - sum(t_hb) / CAST(sum(c_ab) AS DOUBLE)),
                       6) > 0
            THEN CAST(round((sum(t_mi) / CAST(sum(c_ab) AS DOUBLE))
                            / least(ln(CAST(sum(c_ab) AS DOUBLE)) - sum(t_ha) / CAST(sum(c_ab) AS DOUBLE),
                                    ln(CAST(sum(c_ab) AS DOUBLE)) - sum(t_hb) / CAST(sum(c_ab) AS DOUBLE)),
                            6) + 0.0 AS DOUBLE)
       ELSE 0.0 END AS nmi
FROM t
"""
)


def q_embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid cosine/L2 shift between even and odd vec_id halves of the
    embeddings table (checks/embedding_drift.centroid_drift): one posexplode
    scan into a dim-keyed aggregation — encoder-version drift the per-scalar
    histograms can't see."""
    from schema_infer_plugin_spark.checks.embedding_drift import centroid_drift

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "side", F.col("vec_id") % 2 == 0
    )
    return centroid_drift(emb, "embedding", "side")


ORACLE_CENTROID_DRIFT = f"""
WITH ex AS (
  SELECT (vec_id % 2 = 0) AS grp, g.i AS pos, CAST(embedding[g.i] AS DOUBLE) AS x
  FROM embeddings
  CROSS JOIN generate_series(1, {_EMB_DIM}) AS g(i)
  WHERE g.i <= len(embedding)
),
per_dim AS (
  SELECT pos,
         avg(CASE WHEN grp THEN x END) AS ma,
         avg(CASE WHEN NOT grp THEN x END) AS mb,
         count(CASE WHEN grp THEN 1 END) AS ca,
         count(CASE WHEN NOT grp THEN 1 END) AS cb
  FROM ex GROUP BY pos
)
SELECT CAST(max(ca) AS BIGINT) AS n_a,
       CAST(max(cb) AS BIGINT) AS n_b,
       CAST(count(*) AS INT) AS dim,
       CAST(round(sum(ma * mb) / (sqrt(sum(ma * ma)) * sqrt(sum(mb * mb))), 6) + 0.0 AS DOUBLE) AS cosine,
       CAST(round(sqrt(sum((ma - mb) * (ma - mb))), 6) + 0.0 AS DOUBLE) AS l2_shift
FROM per_dim
"""


_CHUNK_MAX = 40
_CHUNK_OVERLAP = 8


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (datapipe/text.chunk_documents): each document
    split into 40-token windows overlapping by 8 — a pure projection with a
    fan-out proportional to the OUTPUT, the pre-tokenization splitter of a
    context-bounded training pipeline."""
    from schema_infer_plugin_spark.datapipe.text import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(
        docs, "doc_id", "text", max_tokens=_CHUNK_MAX, overlap=_CHUNK_OVERLAP
    )


def _oracle_chunks() -> str:
    stride = _CHUNK_MAX - _CHUNK_OVERLAP
    a = f"chunk_idx * {stride} + 1"
    b = f"chunk_idx * {stride} + {_CHUNK_MAX}"
    return rf"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(text), '\s+') END AS tk
  FROM documents),
meta AS (
  SELECT doc_id, tk,
         1 + greatest(CAST(floor((len(tk) - {_CHUNK_MAX} + {stride} - 1) / {stride}) AS BIGINT), 0) AS n_chunks
  FROM toks),
ch AS (SELECT doc_id, tk, n_chunks,
              unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
       FROM meta)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx, CAST(n_chunks AS INT) AS n_chunks,
       array_to_string(tk[{a}:{b}], ' ') AS chunk_text,
       CAST(len(tk[{a}:{b}]) AS BIGINT) AS n_tokens
FROM ch
"""


_PQ_M = 16
_PQ_CODES = 8
_PQ_RERANK = 100


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (datapipe/ann.ann_pq_topk): corpus compressed
    to m=16 3-bit codes per vector (~16x memory cut at dim 64 float32); the
    compressed pass shortlists rerank=100 candidates per query, exact rerank
    only moves full vectors for the shortlist — recall@3 0.93 vs the exact
    baseline on these isotropic embeddings."""
    from schema_infer_plugin_spark.datapipe.ann import ann_pq_topk

    emb = _fan(spark, load_table(spark, sf_dir, "embeddings"))
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    return ann_pq_topk(emb, qs, k=3, m=_PQ_M, n_codes=_PQ_CODES, rerank=_PQ_RERANK)


def _oracle_ann_pq() -> str:
    sub = _EMB_DIM // _PQ_M
    esub = "\nUNION ALL ".join(
        f"SELECT vec_id, {j} AS j, embedding[{j * sub + 1}:{(j + 1) * sub}]::DOUBLE[] AS vs FROM embeddings"
        for j in range(_PQ_M)
    )
    cwu = "\nUNION ALL ".join(
        f"SELECT {j} AS j, cidx, cv[{j * sub + 1}:{(j + 1) * sub}]::DOUBLE[] AS w FROM cent"
        for j in range(_PQ_M)
    )
    return f"""
WITH cent AS (
  SELECT cv, row_number() OVER (ORDER BY r, vid) - 1 AS cidx
  FROM (SELECT embedding AS cv, md5(CAST(vec_id AS VARCHAR)) AS r, vec_id AS vid
        FROM embeddings ORDER BY r, vid LIMIT {_PQ_CODES})),
esub AS ({esub}),
cwu AS ({cwu}),
enc AS (
  SELECT s.vec_id, s.j, c.w,
         row_number() OVER (
           PARTITION BY s.vec_id, s.j
           ORDER BY (list_dot_product(c.w, c.w) - 2.0 * list_dot_product(s.vs, c.w)) ASC,
                    c.cidx ASC) AS rn
  FROM esub s JOIN cwu c ON s.j = c.j),
recon AS (SELECT vec_id, flatten(list(w ORDER BY j)) AS rv
          FROM enc WHERE rn = 1 GROUP BY vec_id),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
pqscored AS (
  SELECT query_id, r.vec_id AS neighbor_id,
         CAST(round({_DUCK_COS.format(a="qv", b="r.rv")}, 6) AS DOUBLE) AS cosine
  FROM q JOIN recon r ON r.vec_id != q.query_id),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS srn
    FROM pqscored) WHERE srn <= {_PQ_RERANK}),
scored AS (
  SELECT s.query_id, s.neighbor_id,
         CAST(round({_DUCK_COS.format(a="q.qv", b="e2.embedding")}, 6) AS DOUBLE) AS cosine
  FROM short s JOIN q ON q.query_id = s.query_id
  JOIN embeddings e2 ON e2.vec_id = s.neighbor_id),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
           FROM scored)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rank FROM ranked WHERE rnk <= 3
"""


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN (datapipe/ann.ann_ivfpq_topk): IVF cells bound the
    candidate COUNT (n_probe/n_cells of the corpus per query), PQ bounds the
    candidate BYTES (reconstructed-vector scoring; full vectors move only for
    the rerank-100 shortlist) — the FAISS-style serving shape, sharing the
    exact centroid/codebook artifacts of the standalone IVF and PQ paths."""
    from schema_infer_plugin_spark.datapipe.ann import ann_ivfpq_topk

    emb = _fan(spark, load_table(spark, sf_dir, "embeddings"))
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    return ann_ivfpq_topk(
        emb, qs, k=3, n_cells=8, n_probe=2, m=_PQ_M, n_codes=_PQ_CODES,
        rerank=_PQ_RERANK,
    )


def _oracle_ann_ivfpq() -> str:
    """Composes ORACLE_ANN_IVF's cell routing with _oracle_ann_pq's
    encode/reconstruct — n_cells == n_codes == 8 means ONE md5-sampled CTE
    serves as both the coarse quantizer and the codeword source, exactly as
    the Spark side's shared ivf_centroids sample does."""
    sub = _EMB_DIM // _PQ_M
    esub = "\nUNION ALL ".join(
        f"SELECT vec_id, {j} AS j, embedding[{j * sub + 1}:{(j + 1) * sub}]::DOUBLE[] AS vs FROM embeddings"
        for j in range(_PQ_M)
    )
    cwu = "\nUNION ALL ".join(
        f"SELECT {j} AS j, cidx, cv[{j * sub + 1}:{(j + 1) * sub}]::DOUBLE[] AS w FROM cent"
        for j in range(_PQ_M)
    )
    return f"""
WITH cent AS (
  SELECT cv, row_number() OVER (ORDER BY r, vid) - 1 AS cidx
  FROM (SELECT embedding AS cv, md5(CAST(vec_id AS VARCHAR)) AS r, vec_id AS vid
        FROM embeddings ORDER BY r, vid LIMIT {_PQ_CODES})),
cscore AS (
  SELECT e.vec_id, e.embedding, c.cidx,
         {_DUCK_COS.format(a="e.embedding", b="c.cv")} AS s
  FROM embeddings e CROSS JOIN cent c),
assign AS (
  SELECT vec_id, cidx AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cidx ASC) AS rn
    FROM cscore) WHERE rn = 1),
probes AS (
  SELECT vec_id AS query_id, embedding AS qv, cidx AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cidx ASC) AS rn
    FROM cscore WHERE vec_id % 50 = 0) WHERE rn <= 2),
esub AS ({esub}),
cwu AS ({cwu}),
enc AS (
  SELECT s.vec_id, s.j, c.w,
         row_number() OVER (
           PARTITION BY s.vec_id, s.j
           ORDER BY (list_dot_product(c.w, c.w) - 2.0 * list_dot_product(s.vs, c.w)) ASC,
                    c.cidx ASC) AS rn
  FROM esub s JOIN cwu c ON s.j = c.j),
recon AS (SELECT vec_id, flatten(list(w ORDER BY j)) AS rv
          FROM enc WHERE rn = 1 GROUP BY vec_id),
pqscored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         CAST(round({_DUCK_COS.format(a="p.qv", b="r.rv")}, 6) AS DOUBLE) AS cosine
  FROM probes p
  JOIN assign a ON a.cell = p.cell AND a.vec_id != p.query_id
  JOIN recon r ON r.vec_id = a.vec_id),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS srn
    FROM pqscored) WHERE srn <= {_PQ_RERANK}),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
scored AS (
  SELECT s.query_id, s.neighbor_id,
         CAST(round({_DUCK_COS.format(a="q.qv", b="e2.embedding")}, 6) AS DOUBLE) AS cosine
  FROM short s JOIN q ON q.query_id = s.query_id
  JOIN embeddings e2 ON e2.vec_id = s.neighbor_id),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
           FROM scored)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rank FROM ranked WHERE rnk <= 3
"""


_MIX_BUDGETS = {"src0": 800, "src1": 500, "src5": 10**9}
_MIX_SHARDS = 64


def q_mix_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget data mixing (datapipe/mixing.mix_token_budget): greedy
    deterministic per-source document selection to hit a token-budget
    mixture — partial prefixes for src0/src1, whole-source for src5 (budget
    exceeds the source's total). Two-level md5-shard prefix sum: the
    corpus-sized window is partitioned (source, shard); only the
    n_sources x n_shards offset roll-up is a single-partition window."""
    from schema_infer_plugin_spark.datapipe.mixing import mix_token_budget

    docs = load_table(spark, sf_dir, "documents")
    return mix_token_budget(
        docs, _MIX_BUDGETS, text_col="text", n_shards=_MIX_SHARDS
    )


def _oracle_mix() -> str:
    """One running sum per source ordered by (md5-shard, doc_id) — the
    single-window statement of the Spark side's two-level prefix sum."""
    case = " ".join(f"WHEN source = '{s}' THEN {b}" for s, b in _MIX_BUDGETS.items())
    srcs = ", ".join(f"'{s}'" for s in _MIX_BUDGETS)
    return rf"""
WITH base AS (
  SELECT doc_id, source,
         CAST(CAST(concat('0x', substr(md5(concat('0:', doc_id)), 1, 15)) AS BIGINT) % {_MIX_SHARDS} AS INT) AS shard,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
  FROM documents
  WHERE source IN ({srcs})),
cum AS (
  SELECT doc_id, source, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY shard, doc_id NULLS FIRST
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
  FROM base)
SELECT doc_id, source, n_tokens, cum_tokens FROM cum
WHERE cum_tokens - n_tokens < (CASE {case} END)
"""


_TEMP_ALPHA = 0.5
_TEMP_TOTAL = 301
_TEMP_DOMAINS = {
    "web": [f"src{i}" for i in range(10)],
    "code": [f"src{i}" for i in range(10, 15)],
    "books": [f"src{i}" for i in range(15, 20)],
}


def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted mixture sampling (datapipe/mixing.
    mix_temperature_sample): source quotas ∝ n^alpha (XLM-R/T5-style
    rebalancing, alpha=0.5), documents filled per source as the
    deterministic (md5-shard, id) prefix. The 20 uniform synthetic sources
    are folded into 3 unequal domains (web 10, code 5, books 5 sources) so
    the temperature actually reweights: alpha=0.5 lifts the small domains'
    share above their natural proportion. Quota arithmetic is
    round-6-then-floor(+0.5) on BOTH sides, so pow()/sum() ulp differences
    cannot flip an integer quota."""
    from schema_infer_plugin_spark.datapipe.mixing import mix_temperature_sample

    docs = load_table(spark, sf_dir, "documents")
    domain = (
        F.when(F.col("source").isin(_TEMP_DOMAINS["web"]), F.lit("web"))
        .when(F.col("source").isin(_TEMP_DOMAINS["code"]), F.lit("code"))
        .otherwise(F.lit("books"))
    )
    d = docs.select("doc_id", domain.alias("source"))
    return mix_temperature_sample(
        d, alpha=_TEMP_ALPHA, total_docs=_TEMP_TOTAL, n_shards=_MIX_SHARDS
    )


def _oracle_mix_temperature() -> str:
    """Same quota arithmetic (round 6 → floor(+0.5) — the engines' pow/sum
    may differ by ulps, the rounded quota cannot), same (md5-shard, id)
    rank."""
    web = ", ".join(f"'{s}'" for s in _TEMP_DOMAINS["web"])
    code = ", ".join(f"'{s}'" for s in _TEMP_DOMAINS["code"])
    return rf"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN source IN ({web}) THEN 'web'
              WHEN source IN ({code}) THEN 'code'
              ELSE 'books' END AS source
  FROM documents),
c AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY source),
q AS (
  SELECT source, n,
         least(n, CAST(floor(round({_TEMP_TOTAL} * pow(n, {_TEMP_ALPHA})
             / (SELECT sum(pow(n, {_TEMP_ALPHA})) FROM c), 6) + 0.5) AS BIGINT)) AS quota
  FROM c),
r AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (PARTITION BY source ORDER BY
             CAST(CAST(concat('0x', substr(md5(concat('0:', doc_id)), 1, 15)) AS BIGINT) % {_MIX_SHARDS} AS INT),
             doc_id NULLS FIRST) AS BIGINT) AS sel_rank
  FROM d)
SELECT r.doc_id, r.source, r.sel_rank FROM r JOIN q USING (source)
WHERE sel_rank <= quota
"""


#: Funnel thresholds — single source for BOTH engines' predicates.
_FUNNEL_MIN_TOKENS = 25
_FUNNEL_MAX_CHARS = 450
_FUNNEL_LANG = "en"


def _min_tokens_pred(t):  # deferred import: textstats pulls the whole package
    from schema_infer_plugin_spark.functions.textstats import ws_token_count

    return ws_token_count(t) >= _FUNNEL_MIN_TOKENS


#: (name, Spark predicate builder, DuckDB predicate SQL) — ONE ordered list
#: drives both engines so a stage can't drift: the query functions take
#: their Spark stages from here via _funnel_spark_stages, never re-declare
#: them, and the shared threshold constants are interpolated into both
#: sides. Boundary comparisons are safe: each ratio is a single division of
#: exact ints, bit-identical in both engines.
_FUNNEL_STAGES: list[tuple] = [
    (
        "nonempty",
        lambda: F.length(F.trim(F.col("text"))) > 0,
        "length(trim(text)) > 0",
    ),
    (
        "min_tokens",
        lambda: _min_tokens_pred(F.col("text")),
        r"(CASE WHEN length(trim(text)) = 0 THEN 0"
        r" ELSE len(regexp_split_to_array(trim(text), '\s+')) END)"
        f" >= {_FUNNEL_MIN_TOKENS}",
    ),
    (
        "max_chars",
        lambda: F.col("n_chars") <= _FUNNEL_MAX_CHARS,
        f"n_chars <= {_FUNNEL_MAX_CHARS}",
    ),
    (
        "lang_en",
        lambda: F.col("lang") == _FUNNEL_LANG,
        f"lang = '{_FUNNEL_LANG}'",
    ),
]


def _funnel_spark_stages(stages: list[tuple] | None = None) -> list[tuple]:
    """Materialize the Spark side of the shared stage list."""
    return [(name, build()) for name, build, _ in (stages or _FUNNEL_STAGES)]


def q_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter attrition funnel (datapipe/text.quality_funnel):
    documents classified by their FIRST failing stage of the ordered
    cleaning chain (nonempty → min ws-tokens → max-chars cap → lang=en,
    thresholds picked so every stage past nonempty has real attrition on
    the synthetic corpus); one scan + one wide aggregate melted to
    per-stage (entered, survived, dropped) exact longs — the observability
    surface a production cleaning pipeline owes its owner."""
    from schema_infer_plugin_spark.datapipe.text import quality_funnel

    docs = load_table(spark, sf_dir, "documents")
    return quality_funnel(docs, _funnel_spark_stages())


def _oracle_funnel(stages: list[tuple[str, str]] | None = None, partition: str | None = None) -> str:
    """First-fail CASE over the same predicates (NULL predicate = fail via
    coalesce), then per-stage conditional sums — melted with UNION ALL.
    With ``partition``, one funnel per partition value (GROUP BY key)."""
    stages = stages if stages is not None else _FUNNEL_STAGES
    n = len(stages)
    whens = " ".join(
        f"WHEN NOT coalesce({sql}, false) THEN {i}"
        for i, (_, _, sql) in enumerate(stages)
    )
    surv = ", ".join(
        f"CAST(sum(CASE WHEN ff > {i} THEN 1 ELSE 0 END) AS BIGINT) AS s{i}"
        for i in range(n)
    )
    key_sel = f"CAST({partition} AS VARCHAR) AS partition_key, " if partition else ""
    key_out = "partition_key, " if partition else ""
    group = " GROUP BY partition_key" if partition else ""
    rows = []
    for i, (name, _, _) in enumerate(stages):
        entered = "total" if i == 0 else f"s{i - 1}"
        rows.append(
            f"SELECT {key_out}{i} AS stage, '{name}' AS stage_name,"
            f" {entered} AS entered, s{i} AS survived,"
            f" {entered} - s{i} AS dropped,"
            f" CAST(round(CASE WHEN {entered} > 0"
            f" THEN CAST(s{i} AS DOUBLE) / {entered} ELSE 0.0 END, 6) AS DOUBLE)"
            f" AS survival_rate FROM s"
        )
    melted = " UNION ALL ".join(rows)
    return rf"""
WITH f AS (SELECT {key_sel}CASE {whens} ELSE {n} END AS ff FROM documents),
s AS (SELECT {key_out}CAST(count(*) AS BIGINT) AS total, {surv} FROM f{group})
{melted}
"""


def q_quality_funnel_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition funnels (quality_funnel(partition_by=...)): where did
    each LANGUAGE's documents die — the first question mixture debugging
    asks. Same single scan + one aggregate, keyed on the partition column;
    the lang stage is dropped from the chain (trivial within a lang
    partition)."""
    from schema_infer_plugin_spark.datapipe.text import quality_funnel

    docs = load_table(spark, sf_dir, "documents")
    return quality_funnel(
        docs, _funnel_spark_stages(_FUNNEL_STAGES[:3]), partition_by="lang"
    )


_PPM_COLS = ["doc_id", "lang", "n_chars"]


def q_profile_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable partial profiles (operators/profile.profile_partial): the documents
    table profiled as TWO independent partial runs (doc_id parity split)
    whose persisted-shape state rows are merged WITHOUT rescanning input —
    the incremental-profiling path (profile 90 daily partitions once, merge
    90 artifact rows). Exact mergeable state only in the driver output
    (counts / native-typed min+max / ladder histogram); the HLL distinct
    sketch rides the same artifact but is estimate-valued, so it stays
    pytest-verified (tests/test_mixing_partial.py)."""
    from schema_infer_plugin_spark.operators.profile import (
        profile_merge,
        profile_partial,
    )

    docs = load_table(spark, sf_dir, "documents")
    parts = [
        profile_partial(docs.filter(F.col("doc_id") % 2 == i), _PPM_COLS, run_id=f"half{i}")
        for i in (0, 1)
    ]
    merged = profile_merge(parts[0].unionByName(parts[1]))
    return merged.select(
        F.col("column").alias("col_name"),
        "inferred_type",
        "total_count",
        "null_count",
        F.round("null_rate", 6).cast("double").alias("null_rate"),
        F.round("confidence", 6).cast("double").alias("confidence"),
        "nullable",
        "required",
        "min_val",
        "max_val",
    )


def _oracle_ppm() -> str:
    """Direct full-table aggregates: merging the two partials must be
    indistinguishable from never having split. documents.lang values are
    2-letter codes — the type ladder classifies every non-null as string,
    so inferred_type/confidence collapse to literals given the fixture."""

    def one(c: str, typ: str) -> str:
        return f"""
SELECT '{c}' AS col_name, '{typ}' AS inferred_type,
       CAST(count(*) AS BIGINT) AS total_count,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
       CAST(round(CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS DOUBLE) AS null_rate,
       CAST(1.0 AS DOUBLE) AS confidence,
       sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) > 0 AS nullable,
       (sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) = 0
        OR CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) < 0.1) AS required,
       CAST(min({c}) AS STRING) AS min_val, CAST(max({c}) AS STRING) AS max_val
FROM documents"""

    return " UNION ALL ".join(
        [one("doc_id", "bigint"), one("lang", "string"), one("n_chars", "bigint")]
    )


_TOPV_K = 5


def q_top_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k frequent values per column (operators/profile.top_values):
    the categorical heavy-hitters histogram. Per column: one hash agg on the
    value (shuffle ∝ distinct, map-side combined) then orderBy().limit(k) —
    distributed TakeOrderedAndProject, never a single-partition sort; the
    rank window runs over the ≤ k surviving rows. Ties break on value ASC so
    the cut is deterministic in both engines."""
    from schema_infer_plugin_spark.operators.profile import top_values

    docs = load_table(spark, sf_dir, "documents")
    ev = load_table(spark, sf_dir, "events")
    return top_values(docs, ["lang", "source"], k=_TOPV_K).unionByName(
        top_values(ev, ["event_type"], k=_TOPV_K)
    )


def _oracle_top_values() -> str:
    def one(table: str, c: str) -> str:
        return f"""
(SELECT '{c}' AS col_name, CAST({c} AS STRING) AS value,
        CAST(count(*) AS BIGINT) AS cnt,
        CAST(row_number() OVER (ORDER BY count(*) DESC, CAST({c} AS STRING) ASC) AS INT) AS rank
 FROM {table} WHERE {c} IS NOT NULL GROUP BY {c}
 ORDER BY cnt DESC, value ASC LIMIT {_TOPV_K})"""

    return " UNION ALL ".join(
        [one("documents", "lang"), one("documents", "source"), one("events", "event_type")]
    )


_HYBRID_QUERY_TEXT = "spark shuffle window"
_HYBRID_DIM = 64
_HYBRID_LEG_K = 25
_HYBRID_TOPK = 10
_RRF_K = 60


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (datapipe/retrieval.rrf_fuse): BM25 lexical ranking
    fused with a feature-hashed-TF cosine ranking by reciprocal-rank fusion —
    the standard score-free hybrid-search combiner. Both legs are bounded
    top-25 frames; every window here runs over ≤ 25 rows."""
    from pyspark.sql import Window

    from schema_infer_plugin_spark.datapipe.retrieval import (
        bm25_topk,
        hashed_cosine_topk,
        rrf_fuse,
    )

    docs = load_table(spark, sf_dir, "documents")
    w = Window.orderBy(F.desc("score"), F.col("doc_id"))
    bm = bm25_topk(docs, "doc_id", "text", _BM25_TERMS, k=_HYBRID_LEG_K).withColumn(
        "rank", F.row_number().over(w)
    )
    sem = hashed_cosine_topk(
        docs, "doc_id", "text", _HYBRID_QUERY_TEXT, dim=_HYBRID_DIM, k=_HYBRID_LEG_K
    ).withColumn("rank", F.row_number().over(w))
    return rrf_fuse(
        [bm.select("doc_id", "rank"), sem.select("doc_id", "rank")],
        "doc_id",
        k=_RRF_K,
        topk=_HYBRID_TOPK,
    )


def _oracle_hybrid() -> str:
    from schema_infer_plugin_spark.datapipe.retrieval import hashed_tf_query_vector

    qv = hashed_tf_query_vector(_HYBRID_QUERY_TEXT, _HYBRID_DIM)
    qv_sql = "[" + ", ".join(repr(x) for x in qv) + "]::DOUBLE[]"
    cos = (
        f"CASE WHEN sqrt(list_dot_product({qv_sql}, {qv_sql}))"
        f" * sqrt(list_dot_product(v, v)) > 0"
        f" THEN list_dot_product({qv_sql}, v)"
        f" / (sqrt(list_dot_product({qv_sql}, {qv_sql})) * sqrt(list_dot_product(v, v)))"
        f" ELSE 0.0 END"
    )
    return rf"""
WITH bmq AS ({_oracle_bm25(_BM25_TERMS, _HYBRID_LEG_K)}),
bm AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk FROM bmq),
htoks AS (
  SELECT doc_id,
         list_filter(list_transform(regexp_split_to_array(trim(text), '\s+'),
                                    x -> lower(x)),
                     x -> length(x) > 0) AS tk
  FROM documents
),
bks AS (SELECT doc_id,
               list_transform(tk, t -> CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % {_HYBRID_DIM}) AS bk
        FROM htoks),
hv AS (SELECT doc_id,
              list_transform(generate_series(0, {_HYBRID_DIM - 1}),
                             p -> CAST(len(list_filter(bk, b -> b = p)) AS DOUBLE)) AS v
       FROM bks),
semq AS (
  SELECT doc_id, CAST(round({cos}, 6) AS DOUBLE) AS score
  FROM hv
),
semtop AS (SELECT doc_id, score FROM semq WHERE score > 0
           ORDER BY score DESC, doc_id LIMIT {_HYBRID_LEG_K}),
sem AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk FROM semtop),
u AS (SELECT doc_id, rnk FROM bm UNION ALL SELECT doc_id, rnk FROM sem),
f AS (SELECT doc_id,
             CAST(round(sum(1.0 / ({_RRF_K} + rnk)), 6) AS DOUBLE) AS rrf_score,
             CAST(count(*) AS INT) AS n_lists
      FROM u GROUP BY doc_id)
SELECT doc_id, rrf_score, n_lists,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS INT) AS rank
FROM f ORDER BY rrf_score DESC, doc_id LIMIT {_HYBRID_TOPK}
"""


_EVO_OLD_SQL = """
SELECT CAST(user_id AS STRING) AS s_id,
       CAST(event_id % 100 AS STRING) || '.5' AS s_amt,
       event_type AS s_kind,
       CASE WHEN event_id % 3 = 0 THEN 'true' ELSE 'FALSE' END AS s_flag,
       'keep' AS s_gone
FROM events WHERE event_id % 2 = 0
"""
_EVO_NEW_SQL = """
SELECT CAST(user_id AS STRING) || '.5' AS s_id,
       CAST(event_id % 100 AS STRING) || '.5' AS s_amt,
       CAST(event_id % 7 AS STRING) AS s_kind,
       CASE WHEN event_id % 3 = 0 THEN 'true' ELSE 'FALSE' END AS s_flag,
       'x' AS s_new,
       CASE WHEN event_id % 3 = 0 THEN NULL ELSE 'y' END AS s_new_opt
FROM events WHERE event_id % 2 = 1
"""
_EVO_OLD_COLS = ["s_id", "s_amt", "s_kind", "s_flag", "s_gone"]
_EVO_NEW_COLS = ["s_id", "s_amt", "s_kind", "s_flag", "s_new", "s_new_opt"]


def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution verdicts between two event slices with every issue
    kind planted (checks/evolution.schema_evolution_check): int→float
    promotion (backward-only), string→int break, a removed required column,
    a new required column, a new nullable column — the registry's
    compatibility rules (operators/registry.py:83-131) run as a data check."""
    from schema_infer_plugin_spark.checks.evolution import schema_evolution_check

    events = load_table(spark, sf_dir, "events")
    events.createOrReplaceTempView("events")
    return schema_evolution_check(
        spark.sql(_EVO_OLD_SQL),
        spark.sql(_EVO_NEW_SQL),
        old_columns=_EVO_OLD_COLS,
        new_columns=_EVO_NEW_COLS,
    )


def _oracle_schema_evolution() -> str:
    readable = "({o} = {n} OR ({o} = 'int' AND {n} = 'float'))"
    r_on = readable.format(o="old_type", n="new_type")
    r_no = readable.format(o="new_type", n="old_type")
    return f"""
WITH oldp AS ({_duck_type_profile_sql(_EVO_OLD_SQL, _EVO_OLD_COLS)}),
newp AS ({_duck_type_profile_sql(_EVO_NEW_SQL, _EVO_NEW_COLS)}),
j AS (
  SELECT coalesce(o.col_name, n.col_name) AS col_name,
         o.inferred_type AS old_type, n.inferred_type AS new_type,
         o.nullable AS old_nullable, o.required AS old_required,
         n.nullable AS new_nullable, n.required AS new_required
  FROM oldp o FULL OUTER JOIN newp n ON o.col_name = n.col_name
),
v AS (
  SELECT col_name, old_type, new_type,
         CASE WHEN old_type IS NULL THEN 'added'
              WHEN new_type IS NULL THEN 'removed'
              ELSE 'kept' END AS status,
         old_nullable, old_required, new_nullable, new_required
  FROM j
),
w AS (
  SELECT col_name, status, old_type, new_type,
         CASE WHEN status = 'added' THEN NOT (new_required AND NOT new_nullable)
              WHEN status = 'removed' THEN true
              ELSE {r_on} END AS backward_ok,
         CASE WHEN status = 'removed' THEN NOT (old_required AND NOT old_nullable)
              WHEN status = 'added' THEN true
              ELSE {r_no} END AS forward_ok
  FROM v
)
SELECT col_name, status, old_type, new_type, backward_ok, forward_ok,
       (backward_ok AND forward_ok) AS compatible_full,
       CASE WHEN status = 'added' AND NOT backward_ok THEN 'field_added_required'
            WHEN status = 'removed' AND NOT forward_ok THEN 'field_removed_required'
            WHEN status = 'kept' AND NOT (backward_ok AND forward_ok) THEN 'type_changed'
       END AS issue
FROM w
"""


_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {    # Dict order is the driver contract: CORRECTNESS_r*.json checks the FIRST 50
    # entries only. Rounds r1-r3 left 31 queries without a current driver row, so
    # r4 front-loads them (27 never-checked + 4 r1-stale) plus the new
    # streaming-parity query, padded to 50 with rotating canaries (fused
    # validation, profile, one per dedup/ANN family).
    # --- priority window: never/stale driver-checked before r4 ---
    "ann_quantized_topk": (q_ann_quantized, ORACLE_ANN_QUANTIZED),
    "dedup_semantic": (q_semantic_dedup, ORACLE_SEMANTIC_DEDUP),
    "split_assign_clustered": (q_split_clustered, _oracle_split_clustered()),
    "split_leakage": (q_split_leakage, _oracle_split_leakage()),
    "multimodal_frames": (q_multimodal_frames, ORACLE_MULTIMODAL_FRAMES),
    "ks_drift_turn_idx": (q_ks_drift, ORACLE_KS_DRIFT),
    "conv_hot_keys": (q_conv_hot_keys, ORACLE_CONV_HOT_KEYS),
    "conv_group_sizes": (q_conv_group_sizes, ORACLE_CONV_GROUP_SIZES),
    "conv_latency": (q_conv_latency, ORACLE_CONV_LATENCY),
    "profile_compare_runs": (q_profile_compare, _oracle_profile_compare()),
    "pack_sequences": (q_pack_sequences, ORACLE_PACK_SEQUENCES),
    "events_fk_orphans": (q_fk_users_orphans, ORACLE_FK_USERS),
    "events_fk_verdict": (q_fk_users_verdict, ORACLE_FK_VERDICT),
    "orders_snapshot_diff": (q_orders_snapshot_diff, ORACLE_SNAPSHOT_DIFF),
    "pattern_event_type": (q_pattern_event_type, ORACLE_PATTERN_EVENT_TYPE),
    "pattern_rates": (q_pattern_rates, ORACLE_PATTERN_RATES),
    "bm25_search": (q_bm25_search, _oracle_bm25(_BM25_TERMS, _BM25_K)),
    "tfidf_top_terms": (q_tfidf_top_terms, ORACLE_TFIDF_TOP_TERMS),
    "events_freshness": (q_events_freshness, ORACLE_FRESHNESS),
    "events_coverage_gaps": (q_events_coverage_gaps, ORACLE_COVERAGE_GAPS),
    "wasserstein_value_drift": (q_wasserstein_value_drift, ORACLE_W1_DRIFT),
    "transcripts_entropy": (q_transcripts_entropy, ORACLE_ENTROPY),
    "transcripts_role_tool_mi": (q_transcripts_role_tool_mi, ORACLE_ROLE_TOOL_MI),
    "embedding_centroid_drift": (q_embedding_centroid_drift, ORACLE_CENTROID_DRIFT),
    "schema_evolution_verdicts": (q_schema_evolution, _oracle_schema_evolution()),
    "hybrid_search_rrf": (q_hybrid_search, _oracle_hybrid()),
    "ann_pq_topk": (q_ann_pq, _oracle_ann_pq()),
    "chunk_documents": (q_chunk_documents, _oracle_chunks()),
    "quality_scorecard": (q_quality_scorecard, ORACLE_QUALITY_SCORECARD),
    "json_inference": (q_json_inference, ORACLE_JSON_INFERENCE),
    "format_detect": (q_format_detect, ORACLE_FORMAT_DETECT),
    "kv_parse": (q_kv_parse, ORACLE_KV_PARSE),
    "delimiter_scores": (q_delimiter_scores, ORACLE_DELIMITER_SCORES),
    "session_stats_stream": (q_session_stats_stream, ORACLE_SESSION_STREAM),
    "windowed_rates_stream": (q_windowed_rates_stream, ORACLE_WINDOWED_RATES_STREAM),
    "windowed_drift_stream": (q_windowed_drift_stream, ORACLE_WINDOWED_DRIFT),
    "windowed_ks_drift": (q_windowed_ks_drift, ORACLE_WINDOWED_KS),
    "windowed_ks_stream": (q_windowed_ks_stream, ORACLE_WINDOWED_KS),
    "dedup_stream_content": (q_dedup_stream, ORACLE_DEDUP_STREAM),
    "ann_ivfpq_topk": (q_ann_ivfpq, _oracle_ann_ivfpq()),
    "mix_token_budget": (q_mix_token_budget, _oracle_mix()),
    "mix_temperature_sample": (q_mix_temperature, _oracle_mix_temperature()),
    "quality_funnel": (q_quality_funnel, _oracle_funnel()),
    "quality_funnel_by_lang": (
        q_quality_funnel_by_lang,
        _oracle_funnel(_FUNNEL_STAGES[:3], partition="lang"),
    ),
    "profile_partial_merge": (q_profile_partial_merge, _oracle_ppm()),
    "top_values_frequent": (q_top_values, _oracle_top_values()),
    # --- canaries: keep core families continuously driver-verified ---
    "transcripts_validate_fused": (q_validate_fused, ORACLE_VALIDATE_FUSED),
    "sampled_validation_estimate": (q_sampled_validation, ORACLE_SAMPLED_VALIDATION),
    "transcripts_profile": (q_profile, ORACLE_PROFILE),
    "transcripts_uniqueness": (q_uniqueness, ORACLE_UNIQUENESS),
    "transcripts_contiguity": (q_contiguity, ORACLE_CONTIGUITY),
    "dedup_exact": (q_dedup_exact, ORACLE_DEDUP_EXACT),
    "dedup_minhash_lsh": (q_minhash_lsh, ORACLE_MINHASH_LSH),
    "dedup_simhash_pairs": (q_simhash_pairs, ORACLE_SIMHASH_PAIRS),
    "dedup_ngram_jaccard": (q_ngram_jaccard, ORACLE_NGRAM_JACCARD),
    "dedup_embedding_lsh": (q_embedding_neardup_lsh, _oracle_embedding_lsh()),
    "dedup_incremental_lsh": (q_dedup_incremental, ORACLE_DEDUP_INCREMENTAL),
    "text_quality": (q_text_quality, ORACLE_TEXT_QUALITY),
    "winnow_fingerprints": (q_winnow_fingerprints, ORACLE_WINNOW),
    # --- beyond the driver window (all driver-green in r1-r3) ---
    "ann_lsh_topk": (q_ann_lsh, _oracle_ann_lsh()),
    "ann_bruteforce_topk": (q_ann_bruteforce, ORACLE_ANN_BRUTEFORCE),
    "ann_ivf_topk": (q_ann_ivf, ORACLE_ANN_IVF),
    "contamination_pairs": (q_contamination, ORACLE_CONTAMINATION),
    "sessionize_events": (q_sessionize_events, ORACLE_SESSIONIZE),
    "sft_examples": (q_sft_examples, ORACLE_SFT_EXAMPLES),
    "multimodal_features": (q_multimodal, ORACLE_MULTIMODAL),
    "transcripts_fd_role": (q_fd_role, ORACLE_FD_ROLE),
    "infer_role_domain": (q_infer_role_domain, ORACLE_INFER_DOMAIN),
    "transcripts_role_domain": (q_role_domain, ORACLE_ROLE_DOMAIN),
    "transcripts_tool_domain": (q_tool_domain, ORACLE_TOOL_DOMAIN),
    "transcripts_tool_without_role": (q_tool_without_role, ORACLE_TOOL_WITHOUT_ROLE),
    "transcripts_null_text": (q_null_text, ORACLE_NULL_TEXT),
    "transcripts_role_alternation": (q_role_alternation, ORACLE_ROLE_ALTERNATION),
    "role_transition_matrix": (q_role_transition, ORACLE_ROLE_TRANSITION),
    "transcripts_corr": (q_transcripts_corr, ORACLE_TRANSCRIPTS_CORR),
    "conv_boundary_roles": (q_conv_boundaries, ORACLE_CONV_BOUNDARIES),
    "role_transition_drift": (q_role_transition_drift, ORACLE_TRANSITION_DRIFT),
    "role_transition_domain": (q_role_transition_domain, ORACLE_TRANSITION_DOMAIN),
    "transition_chi2": (q_transition_chi2, ORACLE_TRANSITION_CHI2),
    "expr_suite": (q_expr_suite, ORACLE_EXPR_SUITE),
    "expr_suite_stream": (q_expr_suite_stream, ORACLE_EXPR_SUITE),
    "violations_triage": (q_violations_triage, ORACLE_VIOLATIONS_TRIAGE),
    "transcripts_ts_monotonic": (q_ts_monotonic, ORACLE_TS_MONOTONIC),
    "transcripts_text_ordered": (q_text_ordered, ORACLE_TEXT_ORDERED),
    "transcripts_verdicts": (q_verdicts, ORACLE_VERDICTS),
    "hash_sample_stratified": (q_hash_sample, ORACLE_HASH_SAMPLE),
    "mixture_sample_roles": (q_mixture_sample, _oracle_mixture()),
    "fixed_k_sample_lang": (q_fixed_k_sample, ORACLE_FIXED_K),
    "clean_corpus": (q_clean_corpus, ORACLE_CLEAN_CORPUS),
    "conv_stats_salted": (q_conv_stats_salted, ORACLE_CONV_STATS),
    "conversation_features": (q_conversation_features, ORACLE_CONVERSATION_FEATURES),
    "shared_prefixes": (q_shared_prefixes, ORACLE_SHARED_PREFIXES),
    "dedup_conversations": (q_dedup_conversations, ORACLE_DEDUP_CONVERSATIONS),
    "value_outliers": (q_value_outliers, ORACLE_VALUE_OUTLIERS),
    "value_histogram_equidepth": (q_value_histogram_equidepth, ORACLE_VALUE_HISTOGRAM),
    "daily_volume_anomalies": (q_daily_volume, ORACLE_DAILY_VOLUME),
    "csv_parse": (q_csv_parse, ORACLE_CSV_PARSE),
    "raw_text_parse": (q_raw_text, ORACLE_RAW_TEXT),
    "transcripts_profile_by_role": (q_profile_by_role, ORACLE_PROFILE_BY_ROLE),
    "type_ladder_profile": (q_type_profile, ORACLE_TYPE_PROFILE),
    "transcripts_drift_role": (q_drift_role, ORACLE_DRIFT_ROLE),
    "temporal_self_drift": (q_temporal_self_drift, ORACLE_TEMPORAL_DRIFT),
    "pricing_summary": (q_pricing_summary, ORACLE_PRICING_SUMMARY),
    "top_revenue_orders": (q_top_revenue_orders, ORACLE_TOP_REVENUE_ORDERS),
    "nation_revenue": (q_nation_revenue, ORACLE_NATION_REVENUE),
    "dedup_exact_turns": (q_dedup_exact_turns, ORACLE_DEDUP_EXACT_TURNS),
    "dedup_components": (q_dedup_components, ORACLE_DEDUP_COMPONENTS),
    "dedup_canonical": (q_dedup_canonical, ORACLE_DEDUP_CANONICAL),
    "dedup_impact": (q_dedup_impact, ORACLE_DEDUP_IMPACT),
    "boilerplate_ngrams": (q_boilerplate_ngrams, ORACLE_BOILERPLATE),
    "dup_ngram_rate": (q_dup_ngram_rate, ORACLE_DUP_NGRAM_RATE),
    "contamination_matrix": (q_contamination_matrix, ORACLE_CONTAMINATION_MATRIX),
    "ngram_containment": (q_ngram_containment, ORACLE_NGRAM_CONTAINMENT),
    "simhash_documents": (q_simhash, ORACLE_SIMHASH),
    "dedup_ngram_jaccard_guarded": (q_ngram_jaccard_guarded, ORACLE_NGRAM_JACCARD_GUARDED),
    "dedup_embedding_cosine": (q_embedding_neardup, ORACLE_EMBEDDING_NEARDUP),
    "vector_sanity": (q_vector_sanity, ORACLE_VECTOR_SANITY),
    "ann_lsh_multitable": (q_ann_lsh_multitable, _oracle_ann_lsh_multitable()),
    "unigram_logprob": (q_unigram_logprob, ORACLE_UNIGRAM_LOGPROB),
    "repetition_stats": (q_repetition_stats, ORACLE_REPETITION),
    "pii_stats": (q_pii_stats, _oracle_pii()[0]),
    "pii_redact": (q_pii_redact, _oracle_pii()[1]),
    "split_assign": (q_split_assign, _oracle_split()),
    "language_id": (q_lang_id, ORACLE_LANG_ID),
    "multimodal_resize": (q_multimodal_resize, ORACLE_MULTIMODAL_RESIZE),
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full Pass-B validation over the sf0.001 transcripts fixture —
    every check via the FUSED single-pass plan (plans/validate.py: one scan,
    one exchange), stamped and stably ordered by (conv_id, turn_idx, check)."""
    from schema_infer_plugin_spark.plans.validate import validate_transcripts

    t = _transcripts(spark, SF0001)
    viol = validate_transcripts(t)
    return (
        viol.select(
            F.lit("run0").alias("run_id"),
            "check_name",
            "conv_id",
            "turn_idx",
            "column",
            "observed",
            "expected",
            F.concat_ws(
                " ", F.lit("expected"), F.col("expected"), F.lit("observed"), F.col("observed")
            ).alias("detail"),
        )
        .orderBy("conv_id", "turn_idx", "check_name")
    )


# Round-6 check window: a round's correctness run (CORRECTNESS_rNN.json)
# checks the FIRST 50 queries() entries.
# Front-load (a) the drift queries whose comparison now runs through the one
# term projection and aggregation (checks/drift.drift_terms/drift_compare),
# (b) the two r3-green queries the round-5 window rotated out, then (c) the
# remaining queries whose last correctness row is r3 — 42 entries in all.
_R6_WINDOW = [
    # (a) drift comparisons re-routed through drift_terms / drift_compare
    "transcripts_drift_role",
    "role_transition_drift",
    "transition_chi2",
    "temporal_self_drift",
    "ks_drift_turn_idx",
    "wasserstein_value_drift",
    "windowed_drift_stream",
    "windowed_ks_drift",
    "windowed_ks_stream",
    # (b) rotated out of the round-5 window
    "transcripts_tool_domain",
    "infer_role_domain",
    # (c) last correctness row r3
    "ann_bruteforce_topk",
    "transcripts_tool_without_role",
    "transcripts_null_text",
    "transcripts_role_alternation",
    "violations_triage",
    "transcripts_ts_monotonic",
    "transcripts_text_ordered",
    "transcripts_verdicts",
    "hash_sample_stratified",
    "mixture_sample_roles",
    "fixed_k_sample_lang",
    "clean_corpus",
    "conv_stats_salted",
    "conversation_features",
    "dedup_conversations",
    "value_outliers",
    "value_histogram_equidepth",
    "daily_volume_anomalies",
    "csv_parse",
    "raw_text_parse",
    "pricing_summary",
    "top_revenue_orders",
    "nation_revenue",
    "dedup_exact_turns",
    "dedup_components",
    "dedup_canonical",
    "boilerplate_ngrams",
    "contamination_matrix",
    "ngram_containment",
    "simhash_documents",
    "dedup_ngram_jaccard_guarded",
]


def _rotated(reg: dict) -> dict:
    missing = [n for n in _R6_WINDOW if n not in reg]
    if missing:
        raise KeyError(f"_R6_WINDOW names not in registry: {missing}")
    window = set(_R6_WINDOW)
    return {n: reg[n] for n in [*_R6_WINDOW, *(x for x in reg if x not in window)]}


_REGISTRY = _rotated(_REGISTRY)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _REGISTRY.items() if sql is not None}
