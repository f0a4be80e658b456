"""SparkSession factory with the engine's scale posture baked in.

The reference hand-rolls its performance knobs (thread pools over topics, fetch
batching, TTL caches — /root/reference/schema_infer/plugin/optimistic.py:714-730,
core/inferrer.py:129-164). On Spark all of that is configuration: AQE re-plans
shuffles at runtime (skew-join splitting, partition coalescing), Arrow makes the
few pandas-UDF paths vectorized, and shuffle partitioning is sized for the target
parallelism rather than hardcoded.

Python runs in exactly two places: the driver, and Arrow-batched pandas UDFs:
``mapInPandas``, and the stream's one ``applyInPandasWithState``
(streaming/incremental.validation_stream), which only annotates turns from
keyed state — every check stays a JVM-side ``Rule`` predicate, as in batch.
Never row-pickled Python —
that also covers the small frames the driver builds itself (ledger rows,
verdict rows, check grids): :func:`local_frame` ships them to the JVM as one
Arrow table that plans as a ``LocalRelation``, never as a ``PythonRDD``
stage that would start a Python worker.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType


def get_spark(
    app_name: str = "schema-infer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for the validation engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in-sandbox; on a real
    cluster it is supplied by spark-submit and this function leaves it alone.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER") and "SPARK_ENV_LOADED" not in os.environ:
        builder = builder.master(f"local[{cpus}]")

    n_shuffle = shuffle_partitions if shuffle_partitions is not None else max(cpus, 8)
    conf = {
        # AQE: runtime shuffle re-planning — coalesce small partitions, split skewed
        # ones (the engine's answer to hot conv_ids beyond explicit salting).
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow for every pandas-UDF boundary; never row-pickled Python.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.shuffle.partitions": str(n_shuffle),
        # Timestamps must round-trip deterministically vs oracles.
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: StructType | str
) -> DataFrame:
    """A driver-built frame (``rows`` as tuples in ``schema`` field order;
    ``schema`` a StructType or DDL string) as a ``LocalRelation``.

    The rows go to the JVM as one ``pyarrow.Table``, so no Python worker
    runs, unlike ``createDataFrame(<list>)``, which plans a ``PythonRDD``
    stage. Values match the list path: a ``TimestampType`` value becomes the
    instant ``TimestampType.toInternal`` gives it (a naive datetime is read in
    the driver's local zone, never the session zone)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    arrays = []
    for field, values in zip(schema.fields, columns):
        if isinstance(field.dataType, TimestampType):
            micros = [None if v is None else field.dataType.toInternal(v) for v in values]
            arrays.append(pa.array(micros, pa.timestamp("us", tz="UTC")))
        else:
            arrays.append(pa.array(values, to_arrow_type(field.dataType)))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, names=schema.names), schema)
