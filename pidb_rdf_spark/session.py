"""SparkSession factory with scale-conscious defaults.

Local testing runs on ``local[N]``; the config block is written for a
real cluster too (AQE on, skew-join handling, partition-size caps) so
the same code path holds at 100 TB with 1000 executors — only
``master`` and partition counts change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "pidb_rdf_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    - AQE enabled: runtime coalescing of shuffle partitions, skew-join
      splitting — the behaviours we rely on at scale instead of
      hand-tuning every query.
    - Arrow enabled: every Pandas UDF / ``applyInPandas`` in the
      pipeline operators moves data in Arrow batches, not pickled rows.
    - UTC session timezone: deterministic timestamp semantics and
      parity with the DuckDB oracle (UTC-naive timestamps).
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: list, schema) -> DataFrame:
    """DataFrame over driver-built ``rows`` (tuples in ``schema``
    order), built through Arrow: below
    ``spark.sql.execution.arrow.localRelationThreshold`` the rows
    become a JVM ``LocalRelation``, so no query over the frame starts
    a Python worker (``createDataFrame(list)`` is a ``LogicalRDD`` that
    does, on every query that reads it) and Catalyst folds a filter or
    projection over it on the driver. ``LocalTableScan`` runs it in
    min(rows, ``defaultParallelism``) slices. ``schema`` is a DDL
    string or a ``StructType``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)
