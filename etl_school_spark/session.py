"""SparkSession factory with scale-oriented defaults.

The reference delegates physical execution to Snowflake (SURVEY.md §4); our
engine delegates to Spark/Catalyst/Tungsten. This module centralizes the
session configuration that makes that delegation efficient at cluster scale
while remaining correct on local[N]:

- AQE on (runtime coalescing, skew-join splitting, dynamic join selection)
- Arrow transfer on (fast toPandas + pandas_udf)
- UTC session timezone (the reference mixes naive timestamps; pinning UTC
  keeps oracle hashes stable — SURVEY.md §7 "hard parts")
- shuffle partitions sized from env (32 on the test box; on a real cluster
  this would be ~2-3x total cores or AQE-coalesced from a high initial)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "etl-school-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32") if os.environ.get("SPARK_GRAFT_CPUS", "").isdigit() else 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # the driver testdata stores events.ts as TIMESTAMP(NANOS): read as
        # long and reconstruct (tables.load_table) — Spark has no nanos type
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Set the runtime-settable confs this engine relies on.

    Query entry points may receive an externally built session (the driver
    harness builds its own); these confs are all runtime-settable and make
    behavior deterministic regardless of who built the session.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """A small driver-side frame (audit rows, thresholds, collected
    metrics) built through Arrow.

    ``spark.createDataFrame(<python list>)`` parallelizes the rows, so every
    job over the frame starts a Python worker to read them back. An Arrow
    table instead plans as a JVM ``LocalRelation``: writing a few audit
    rows costs one short JVM job. ``rows`` are tuples (or ``Row``s) in
    ``schema`` order, of flat atomic types; ``timestamp_ntz`` columns take
    naive datetimes.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)], schema=arrow_schema
    )
    return spark.createDataFrame(table, schema)
