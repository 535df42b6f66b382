"""Continuous aggregate (hypertable-style rollup): a materialized hourly
rollup table maintained incrementally from a stream.

Each micro-batch:
1. aggregates ONLY the batch's rows per (hour, dimension),
2. determines the touched hour partitions,
3. reads the current rollup for just those partitions, merges (sum), and
4. overwrites only those partitions (dynamic partition overwrite).

Cost per batch is O(batch + touched-partition size) — the full history
is never rescanned, which is what makes a 100 TB events table's rollup
maintainable at minute cadence. The merge is idempotent per batch only
via the checkpoint (exactly-once foreachBatch), same as any streaming
sink.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from etl_school_spark.schemas import EVENTS


def _batch_rollup(batch: DataFrame) -> DataFrame:
    return (
        batch.withColumn("bucket", F.date_trunc("hour", F.col("ts")))
        .groupBy("bucket", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(28,10)")).alias("_dsum"),
        )
        .select(
            "bucket",
            "event_type",
            "n",
            F.col("_dsum").cast("double").alias("sum_value"),
            # SUM over decimal(28,10) widens to (38,10); cast back so every
            # file in the rollup dir carries the SAME physical decimal
            # width — a mixed-width dir crashes later partition reads
            # (FIXED_LEN_BYTE_ARRAY size mismatch)
            F.col("_dsum").cast("decimal(28,10)").alias("_exact"),
            F.date_format("bucket", "yyyy-MM-dd-HH").alias("part"),
        )
    )


# explicit read schema: partition reads must not depend on which file's
# footer schema inference happens to pick
_ROLLUP_SCHEMA = (
    "bucket timestamp_ntz, event_type string, n bigint, "
    "sum_value double, _exact decimal(28,10)"
)


def _merge_into(spark: SparkSession, rollup_dir: str, delta: DataFrame) -> None:
    delta = delta.cache()
    parts = [r.part for r in delta.select("part").distinct().collect()]
    if not parts:
        delta.unpersist()
        return
    exists = os.path.isdir(rollup_dir) and any(
        e.startswith("part=") for e in os.listdir(rollup_dir)
    )
    if exists:
        current = (
            spark.read.schema(_ROLLUP_SCHEMA + ", part string")
            .parquet(rollup_dir)
            .filter(F.col("part").isin(parts))
        )
        merged = (
            current.select("bucket", "event_type", "n", "_exact", "part")
            .unionByName(delta.select("bucket", "event_type", "n", "_exact", "part"))
            .groupBy("bucket", "event_type", "part")
            .agg(F.sum("n").alias("n"), F.sum("_exact").cast("decimal(28,10)").alias("_exact"))
            .select(
                "bucket", "event_type", "n",
                F.col("_exact").cast("double").alias("sum_value"), "_exact", "part",
            )
        )
    else:
        merged = delta
    # dynamic for this write only: a session-wide conf would turn every
    # later partitioned overwrite in the session dynamic too
    merged.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        "part"
    ).parquet(rollup_dir)
    delta.unpersist()


def continuous_rollup(
    spark: SparkSession,
    stage_dir: str,
    rollup_dir: str,
    checkpoint_dir: str,
    schema: StructType = EVENTS,
    max_files_per_trigger: int | None = 1,
) -> None:
    """Drain the stage into the rollup table incrementally (availableNow;
    one micro-batch per staged file by default, so the merge path is
    genuinely exercised)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.json(stage_dir).withColumn("ts", F.to_timestamp_ntz("ts"))

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        _merge_into(batch_df.sparkSession, rollup_dir, _batch_rollup(batch_df))

    q = (
        raw.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_rollup(spark: SparkSession, rollup_dir: str) -> DataFrame:
    return (
        spark.read.schema(_ROLLUP_SCHEMA + ", part string")
        .parquet(rollup_dir)
        .select("bucket", "event_type", "n", "sum_value")
    )
