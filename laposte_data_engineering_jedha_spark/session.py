"""SparkSession factory.

Single place where session-level tuning lives so tests, bench.py and the
driver entry point all run with the same, scale-aware configuration:

- AQE on (runtime partition coalescing + skew-join splitting),
- shuffle partitions sized to the local core count (on a real cluster this
  is overridden to ~2-3x total cores; AQE coalesces the excess),
- Arrow enabled for the pandas readers (xlsx/sqlite sources) and for
  `local_table`; the xlsx/sqlite sinks stream pyarrow batches directly,
- UTC session timezone so timestamp semantics are deterministic and match
  the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 4


def get_spark(
    app_name: str = "laposte_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession."""
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE optimize (coalesce/size) the plans that BUILD persisted
        # relations too: the operator layer persists many repartitioned
        # intermediates (banded LSH index, shingle index, digest ladders),
        # and with the default `false` those cached plans compile without
        # AQE, pinning shuffle-partition-count layouts that every
        # downstream stage then pays task-per-partition overhead on.
        # Data-size-adaptive on any cluster, not a local-mode constant
        # (r13 optimization: 36-query conf experiment measured -19%
        # subset total, broad across 31/36 queries; per-query table in
        # OPTIMIZATION_r13.md).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the driver's events.parquet stores TIMESTAMP(NANOS) which Spark's
        # parquet reader rejects; read as long and convert (queries.events_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_table(spark: SparkSession, rows: list[tuple], schema: StructType | str) -> DataFrame:
    """Driver-side rows -> a JVM `LocalRelation` with exactly `schema`.

    `spark.createDataFrame(list, schema)` builds a `LogicalRDD` over a
    `PythonRDD`, so every scan of it forks Spark's Python daemon and one
    worker per partition to unpickle rows the driver already holds. An
    Arrow table goes to the JVM once, as batches, and the scan stays in
    the JVM. `rows` is a sequence of tuples in schema order; `schema` is a
    `StructType` or a DDL string ("k int, vals array<double>")."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
