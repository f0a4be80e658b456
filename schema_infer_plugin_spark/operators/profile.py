"""Pass A — column profiles from ONE mergeable state definition.

The reference folds every record into one per-field accumulator (its
schemas/inference.py:199-264: per-field Counter of types, null_count,
total_count, ≤5 examples over a ≤50-message sample).
Every statistic that accumulator keeps is MERGEABLE — counts add, mins/maxes
combine, type histograms add — and so is every statistic here. This module
spells the accumulator once, as two private pieces:

``_state`` — ONE wide aggregation of per-column state (one row globally, or
one per ``partition_by`` value):

* ``{col}__total`` / ``{col}__nulls`` — exact longs (add under merge);
* ``{col}__min`` / ``{col}__max`` — NATIVE-typed (merging string-rendered
  mins would corrupt numerics: ``"10" < "9"`` lexicographically);
* ``{col}__hll`` — a Datasketches HLL sketch (``hll_sketch_agg``), the
  mergeable form of distinct counting; ``hll_union_agg`` over partials is
  the union sketch, register-exact at equal lgK;
* ``{col}__kll`` — numeric columns only: a Datasketches KLL doubles sketch
  (``kll_sketch_agg_double``, k=200), the mergeable form of quantiles
  (~1.65% two-sided normalized rank error). Spark's KLL merge has no
  strict-k mode (unlike the HLL union's strict lgK), so merging mixed-k
  partials would silently degrade to the smaller k — k is a constant here;
* ``{col}__cnt_{type}`` — string columns only: the reference's type-ladder
  histogram (adds under merge, so a merged inferred type / confidence is
  EXACTLY what a full-table profile resolves).

``_resolve`` — ONE wide → long resolution of that state into the profile
surface: one row per (partition_key, column) with inferred_type,
type_histogram, counts, null_rate, required, nullable, confidence,
distinct_approx, min/max and [p25, p50, p75] quantiles. State from an empty
input (NULL sums, NULL or empty sketches) resolves to zero counts, a 0.0
null_rate, distinct 0 and NULL quantiles.

Two consumers share them:

* :func:`profile` — one state aggregation straight into the resolution, plus
  bounded examples. Its single partial is never re-merged.
* :func:`profile_partial` / :func:`profile_merge` — incremental profiling:
  persist one state row per run (a tiny artifact), and answer "profile of
  the last 90 days" by merging 90 artifact rows, then resolving — never
  rescanning a byte of input. Merge work is ∝ (#partials × #columns).

``distinct_approx`` and ``quantiles`` are sketch ESTIMATES (merging halves is
not bit-identical to sketching the whole) — keep them out of exact
cross-engine comparisons. ``profile(approx_distinct=False)`` is the one
exact, non-mergeable override: it aggregates ``count_distinct`` in place of
the HLL sketch, for oracle-checkable distinct counts at test scale.

Plan shape: ``scan → partial agg (map-side combine) → final agg`` — one
shuffle of a handful of bytes per column per partition, no matter the table
size, and the scan reads each column exactly once. The long output is a
projection over the tiny wide row(s), not a shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    NumericType,
    StringType,
)

from ..functions.typeladder import (
    TYPE_NAMES,
    resolve_profile,
    type_code_proj,
    type_profile_exprs,
)

#: KLL sketch size of every quantile state column (rank error above)
_KLL_K = 200

#: types Datasketches HLL ingests natively; anything else is sketched over
#: its string rendering (injective for dates/timestamps/decimals — the
#: distinct count is over VALUES either way)
_HLL_NATIVE = (IntegerType, LongType, StringType, BinaryType)

#: suffixes of the mergeable state columns (besides the string-only cnt_*)
_STATE_SUFFIXES = ("__total", "__nulls", "__min", "__max", "__hll")


def _state(
    df: DataFrame,
    columns: list[str],
    partition_by: str | None,
    lg_k: int = 12,
    exact_distinct: bool = False,
) -> DataFrame:
    """The wide state aggregation (module docstring) over ``columns``.
    ``exact_distinct`` aggregates ``{col}__distinct = count_distinct`` in
    place of the HLL sketch."""
    agg_exprs: list = []
    for c in columns:
        col, dtype = F.col(c), df.schema[c].dataType
        if exact_distinct:
            distinct = F.count_distinct(col).alias(f"{c}__distinct")
        else:
            sketch_input = col if isinstance(dtype, _HLL_NATIVE) else col.cast("string")
            distinct = F.hll_sketch_agg(sketch_input, lg_k).alias(f"{c}__hll")
        agg_exprs.extend(
            [
                F.count(F.lit(1)).alias(f"{c}__total"),
                F.sum(col.isNull().cast("long")).cast("long").alias(f"{c}__nulls"),
                F.min(col).alias(f"{c}__min"),
                F.max(col).alias(f"{c}__max"),
                distinct,
            ]
        )
        if isinstance(dtype, NumericType):
            agg_exprs.append(
                F.kll_sketch_agg_double(col.cast("double"), _KLL_K).alias(f"{c}__kll")
            )
        if isinstance(dtype, StringType):
            agg_exprs.extend(type_profile_exprs(c, from_code=True)[: len(TYPE_NAMES)])
    # classify each string column ONCE per row (type_code_proj docstring)
    code_cols = [
        type_code_proj(c) for c in columns if isinstance(df.schema[c].dataType, StringType)
    ]
    prep = df.select("*", *code_cols) if code_cols else df
    return prep.groupBy(partition_by).agg(*agg_exprs) if partition_by else prep.agg(*agg_exprs)


def _resolve(wide: DataFrame, columns: list[str], key: str | None, run_id: str) -> DataFrame:
    """Wide state row(s) → long profile, one row per (partition_key, column).
    Reads ``{col}__distinct`` in place of the HLL estimate and emits
    ``examples`` when the wide frame carries those columns."""

    def count(name: str):
        # a sum over zero rows (empty input, or no partials) is NULL: count 0
        return F.coalesce(F.col(name), F.lit(0)).cast("long")

    dtypes = dict(wide.dtypes)
    structs = []
    for c in columns:
        total, nulls = count(f"{c}__total"), count(f"{c}__nulls")
        if f"{c}__cnt_{TYPE_NAMES[0]}" in dtypes:
            cnts = {t: count(f"{c}__cnt_{t}") for t in TYPE_NAMES}
            resolved = resolve_profile(
                cnts["boolean"], cnts["int"], cnts["float"], cnts["string"], total, nulls
            )
            hist = F.map_from_arrays(
                F.array(*[F.lit(t) for t in TYPE_NAMES]),
                F.array(*[cnts[t] for t in TYPE_NAMES]),
            )
        else:
            # the native dtype rides along on the min state column
            spark_type = dtypes[f"{c}__min"]
            resolved = {
                "inferred_type": F.lit(spark_type),
                "confidence": F.lit(1.0),
                "nullable": nulls > 0,
                "required": (nulls == 0) | ((nulls / total) < 0.1),
            }
            hist = F.map_from_arrays(
                F.array(F.lit(spark_type), F.lit("null")),
                F.array(total - nulls, nulls),
            )
        if f"{c}__kll" in dtypes:
            sk = F.col(f"{c}__kll")
            # an all-empty KLL sketch is valid but get_quantile raises on it —
            # gate on the sketch's own n (a NULL sketch gates to NULL too)
            quantiles = F.when(
                F.kll_sketch_get_n_double(sk) > 0,
                F.array(
                    *[
                        F.kll_sketch_get_quantile_double(sk, F.lit(p))
                        for p in (0.25, 0.5, 0.75)
                    ]
                ),
            )
        else:
            quantiles = F.lit(None).cast("array<double>")
        if f"{c}__distinct" in dtypes:
            distinct = F.col(f"{c}__distinct")
        else:
            # NULL sketch = zero observed values
            distinct = F.coalesce(F.hll_sketch_estimate(F.col(f"{c}__hll")), F.lit(0))
        fields = [
            F.lit(c).alias("column"),
            resolved["inferred_type"].alias("inferred_type"),
            hist.alias("type_histogram"),
            total.alias("total_count"),
            nulls.alias("null_count"),
            # zero rows must not emit a NULL rate (0/0): empty is 0-null
            F.when(total > 0, nulls / total)
            .otherwise(F.lit(0.0))
            .cast("double")
            .alias("null_rate"),
            resolved["required"].alias("required"),
            resolved["nullable"].alias("nullable"),
            resolved["confidence"].cast("double").alias("confidence"),
            distinct.cast("long").alias("distinct_approx"),
            F.col(f"{c}__min").cast("string").alias("min_val"),
            F.col(f"{c}__max").cast("string").alias("max_val"),
            quantiles.alias("quantiles"),
        ]
        if f"{c}__examples" in dtypes:
            fields.append(
                F.array_sort(
                    F.coalesce(F.col(f"{c}__examples"), F.array().cast("array<string>"))
                ).alias("examples")
            )
        structs.append(F.struct(*fields))
    part_key = F.col(key).cast("string") if key else F.lit("_global_")
    return wide.select(
        F.lit(run_id).alias("run_id"),
        part_key.alias("partition_key"),
        F.explode(F.array(*structs)).alias("p"),
    ).select("run_id", "partition_key", "p.*")


def profile(
    df: DataFrame,
    columns: list[str] | None = None,
    partition_by: str | None = None,
    approx_distinct: bool = True,
    n_examples: int = 5,
    run_id: str = "run0",
    examples_prefilter_num: int | None = None,
) -> DataFrame:
    """Profile ``columns`` (default: all) in one aggregation pass.

    Returns long format: one row per (partition_key, column) —
    :func:`profile_merge`'s columns plus ``examples``. ``partition_by``
    groups the profile per partition (the per-topic analog of the
    reference); None profiles globally. ``approx_distinct=True`` reads
    distinct counts off the HLL state (the 100 TB path); False counts them
    exactly with count_distinct (oracle-checkable at test scale).

    With ``partition_by`` the example sampling (fixed_k_sample) ranks every
    row by md5 inside its partition — a SECOND full shuffle of the selected
    columns beyond the wide agg. At huge per-partition row counts pass
    ``examples_prefilter_num`` (a /256 hash-prefix rate, forwarded to
    fixed_k_sample's map-side pre-filter): the sampled set is identical
    whenever >= k rows clear the cut, and the shuffle drops to
    ~rate x |input|. Size it >= ~4k/|smallest partition|; the default None
    keeps exact every-partition coverage for moderate tables.
    """
    columns = columns or [c for c in df.columns if c != partition_by]
    wide = _state(df, columns, partition_by, exact_distinct=not approx_distinct)

    # Bounded examples (reference keeps the first ≤5 seen, inference.py:248-250):
    # a collect_set over the full column would buffer every distinct value of a
    # high-cardinality column in one reducer — unbounded at 10^12 rows.
    if partition_by:
        # Per-partition examples (VERDICT r3 #7): a global head sample joined
        # by partition key leaves most partitions of a large table with EMPTY
        # examples — the ~1,000 head rows land in whichever groups the first
        # input split happens to contain. fixed_k_sample instead ranks rows
        # INSIDE each partition by a full md5 and keeps exactly
        # min(k, |partition|): every partition present in the data contributes
        # examples, per-task state is one streaming row_number, and the window
        # shuffles on the same key the wide agg already exchanges.
        from ..sources.sampling import fixed_k_sample

        sample = fixed_k_sample(
            df.select(partition_by, *columns),
            partition_by,
            key_cols=list(columns),
            k=max(n_examples * 20, 100),
            prefilter_rate_num=examples_prefilter_num,
        )
        # sort BEFORE the slice: collect_set accumulation order is not
        # deterministic, but the sampled value set is (md5-ranked rows), so
        # the n_examples alphabetically-first sampled values are reproducible
        # at any parallelism
        ex_exprs = [
            F.slice(
                F.array_sort(F.collect_set(F.col(c).cast("string"))), 1, n_examples
            ).alias(f"{c}__examples")
            for c in columns
        ]
        ex_wide = sample.groupBy(partition_by).agg(*ex_exprs)
        wide = wide.join(ex_wide, on=partition_by, how="left")
    else:
        # global profile: a head sample (limit reads a single input split) is
        # faithful to the reference's "first seen" and O(1) in table size
        sample = df.limit(max(n_examples * 200, 1000))
        ex_exprs = [
            F.slice(F.collect_set(F.col(c).cast("string")), 1, n_examples).alias(
                f"{c}__examples"
            )
            for c in columns
        ]
        wide = wide.crossJoin(sample.agg(*ex_exprs))
    return _resolve(wide, columns, partition_by, run_id)


def profile_partial(
    df: DataFrame,
    columns: list[str] | None = None,
    run_id: str = "run0",
    lg_k: int = 12,
    partition_by: str | None = None,
) -> DataFrame:
    """Mergeable profile state for ``columns`` (default all): ONE wide row
    globally, or one row per ``partition_by`` value (the reference's
    per-topic analog, incremental — artifact size ∝ partition cardinality,
    never input).

    The rows are the artifact: write them with ``.write.parquet(...)`` and
    feed any union of such rows (same column set, same ``lg_k``, same
    partitioning) to :func:`profile_merge`. One scan, map-side combined —
    the shuffle is a handful of bytes per column per partition. Examples
    are deliberately absent: they are a bounded sample, not an accumulator.
    """
    columns = columns or [c for c in df.columns if c != partition_by]
    if partition_by in columns:
        raise ValueError("profile_partial: partition_by cannot also be profiled")
    # "__" is the state-column marker profile_merge keys off — a partition
    # column containing it would be misread as state and silently collapse
    # every partition into one global row at merge time
    if partition_by is not None and "__" in partition_by:
        raise ValueError(
            "profile_partial: partition_by name must not contain '__' "
            "(reserved for artifact state columns)"
        )
    return _state(df, columns, partition_by, lg_k).select(F.lit(run_id).alias("run_id"), "*")


def profile_merge(parts: DataFrame, run_id: str = "merged") -> DataFrame:
    """Merge partial-profile rows into one long-format profile.

    Accepts any union of :func:`profile_partial` outputs over the SAME
    column set (mismatched partials raise — merging profiles of different
    tables is a caller bug, not a coercion opportunity); parquet round-trips
    preserve the sketch binary. Partition-keyed partials (``partition_by=``)
    merge per key — the key column is recognized as the non-state column
    riding the artifact. Output: :func:`profile`'s columns minus examples.
    """
    columns = [c[: -len("__total")] for c in parts.columns if c.endswith("__total")]
    if not columns:
        raise ValueError("profile_merge: input has no __total state columns")
    missing = [
        f"{c}{s}" for c in columns for s in _STATE_SUFFIXES if f"{c}{s}" not in parts.columns
    ]
    if missing:
        raise ValueError(f"profile_merge: partial state columns missing: {missing}")
    # state columns all carry a "__" suffix; whatever else rides the artifact
    # beside run_id is the partition key (at most one, as in profile())
    keys = [c for c in parts.columns if c != "run_id" and "__" not in c]
    if len(keys) > 1:
        raise ValueError(f"profile_merge: at most one partition column, got {keys}")

    agg_exprs: list = []
    for c in columns:
        agg_exprs.extend(
            [
                F.sum(f"{c}__total").alias(f"{c}__total"),
                F.sum(f"{c}__nulls").alias(f"{c}__nulls"),
                F.min(f"{c}__min").alias(f"{c}__min"),
                F.max(f"{c}__max").alias(f"{c}__max"),
                # strict lgK: partials built with a different lg_k raise at
                # merge (a mis-configured pipeline must not silently degrade
                # the estimate — same posture as the mismatched-column guard)
                F.hll_union_agg(f"{c}__hll", False).alias(f"{c}__hll"),
            ]
        )
        if f"{c}__kll" in parts.columns:
            agg_exprs.append(F.kll_merge_agg_double(f"{c}__kll").alias(f"{c}__kll"))
        agg_exprs.extend(
            F.sum(f"{c}__cnt_{t}").alias(f"{c}__cnt_{t}")
            for t in TYPE_NAMES
            if f"{c}__cnt_{t}" in parts.columns
        )
    wide = parts.groupBy(*keys).agg(*agg_exprs) if keys else parts.agg(*agg_exprs)
    return _resolve(wide, columns, keys[0] if keys else None, run_id)


def type_profile(
    df: DataFrame,
    columns: list[str] | None = None,
    confidence_threshold: float = 0.8,
    null_ratio_threshold: float = 0.1,
) -> DataFrame:
    """Reference-semantics type inference over string columns only.

    Output: (column, inferred_type, confidence, nullable, required,
    cnt_boolean, cnt_int, cnt_float, cnt_string, total_count, null_count) —
    the distributed equivalent of SchemaInferrer._create_schema_field
    (inference.py:339-397), exact over the full table.
    """
    columns = columns or [
        f.name for f in df.schema.fields if isinstance(f.dataType, StringType)
    ]
    agg_exprs: list = []
    for c in columns:
        agg_exprs.extend(type_profile_exprs(c, from_code=True))
    wide = df.select("*", *[type_code_proj(c) for c in columns]).agg(*agg_exprs)

    structs = []
    for c in columns:
        cnts = {t: F.col(f"{c}__cnt_{t}") for t in TYPE_NAMES}
        total, nulls = F.col(f"{c}__total"), F.col(f"{c}__nulls")
        resolved = resolve_profile(
            cnts["boolean"], cnts["int"], cnts["float"], cnts["string"], total, nulls,
            confidence_threshold=confidence_threshold,
            null_ratio_threshold=null_ratio_threshold,
        )
        structs.append(
            F.struct(
                F.lit(c).alias("column"),
                resolved["inferred_type"].alias("inferred_type"),
                F.round(resolved["confidence"], 6).cast("double").alias("confidence"),
                resolved["nullable"].alias("nullable"),
                resolved["required"].alias("required"),
                *[cnts[t].alias(f"cnt_{t}") for t in TYPE_NAMES],
                total.alias("total_count"),
                nulls.alias("null_count"),
            )
        )
    return wide.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


def top_values(
    df: DataFrame,
    columns: list[str],
    k: int = 10,
    partition_by: str | None = None,
) -> DataFrame:
    """Exact top-k most frequent values per column (heavy hitters) — the
    categorical companion of the numeric equi-depth histogram: which roles,
    tools, event types, error strings dominate a column, with exact counts.

    Plan shape, per column: one hash aggregation on the value (shuffle ∝
    DISTINCT values, map-side combined) then ``orderBy().limit(k)`` — 
    Spark's distributed TakeOrderedAndProject, so a 10^9-distinct column
    never funnels through a single-partition sort (the repo-invariant top-k
    shape; an unpartitioned row_number window here would). Ties break on
    value ascending, so the cut is deterministic in both engines. The final
    rank window runs over ≤ k collected rows per column. NULLs are excluded
    (profile() already counts them); columns are unioned lazily into one
    frame.

    With ``partition_by`` the top-k is per partition value (top tools per
    role — the conditional distribution): the rank window partitions on the
    group key, so its per-task work is bounded by the DISTINCT (group,
    value) pairs of one group — the categorical-column regime this targets.
    For a near-unique value column prefer the global form (TakeOrdered has
    no per-group equivalent); the unpartitioned-window shape is never used
    in either mode.

    Output: (col_name, [partition_key,] value, cnt, rank) with value and
    partition_key cast to string.
    """
    if not columns:
        raise ValueError("top_values: columns must be non-empty")
    if partition_by in columns:
        raise ValueError("top_values: partition_by cannot also be ranked")
    from functools import reduce

    from pyspark.sql import Window

    parts = []
    for c in columns:
        base = df.filter(F.col(c).isNotNull())
        if partition_by is not None:
            counted = base.groupBy(
                F.col(partition_by).cast("string").alias("partition_key"),
                F.col(c).cast("string").alias("value"),
            ).agg(F.count(F.lit(1)).alias("cnt"))
            w = Window.partitionBy("partition_key").orderBy(
                F.desc("cnt"), F.asc("value")
            )
            parts.append(
                counted.withColumn("rank", F.row_number().over(w).cast("int"))
                .filter(F.col("rank") <= k)
                .select(
                    F.lit(c).alias("col_name"),
                    "partition_key",
                    "value",
                    F.col("cnt").cast("long").alias("cnt"),
                    "rank",
                )
            )
            continue
        counted = (
            base.groupBy(F.col(c).cast("string").alias("value"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("value"))
            .limit(k)
        )
        w = Window.orderBy(F.desc("cnt"), F.asc("value"))
        parts.append(
            counted.select(
                F.lit(c).alias("col_name"),
                "value",
                F.col("cnt").cast("long").alias("cnt"),
                F.row_number().over(w).cast("int").alias("rank"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), parts)
