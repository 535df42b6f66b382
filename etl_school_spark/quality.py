"""Data-quality layer (SURVEY.md §2.10 G2/G7; §2.4 A5–A8, §5.4).

Re-expresses the reference's RUN_DQ procedure + alerting DAG
(A4:738-770, 842-919): a metric suite computed in ONE pass over the table
(conditional aggregation), unpivoted to long form, appended to a metrics
table; alerts are the latest metrics joined to a threshold relation.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_school_spark.session import local_frame
from etl_school_spark.sources.writers import append_rows


@dataclass
class DqRule:
    """A named ratio metric: share of rows satisfying ``pred``."""

    name: str
    pred: Column
    threshold: float  # alert when metric_value < threshold


def dq_metrics(df: DataFrame, rules: list[DqRule], group: str = "dq") -> DataFrame:
    """One-pass ratio metrics, long form (metric_name, metric_value,
    metric_den, computed_at). avg(iff(pred,1,0)) per rule (A4:800-818)."""
    aggs = [
        F.avg(F.when(r.pred, 1.0).otherwise(0.0)).alias(r.name) for r in rules
    ] + [F.count(F.lit(1)).cast("double").alias("_den")]
    wide = df.agg(*aggs)
    long = wide.unpivot(["_den"], [r.name for r in rules], "metric_name", "metric_value")
    return long.select(
        F.lit(group).alias("metric_group"),
        "metric_name",
        "metric_value",
        F.col("_den").alias("metric_den"),
        F.timestamp_seconds(F.lit(time.time())).cast("timestamp_ntz").alias("computed_at"),
    )


def run_dq(
    spark: SparkSession,
    df: DataFrame,
    rules: list[DqRule],
    metrics_dir: str | None = None,
    group: str = "dq",
) -> DataFrame:
    """G2 RUN_DQ: compute metrics, optionally append to the metrics table,
    return the metric rows. The suite is aggregated once: the returned
    frame holds the collected rows, so reading it runs no second pass."""
    m = dq_metrics(df, rules, group)
    if metrics_dir:
        return append_rows(spark, metrics_dir, m.collect(), m.schema)
    return local_frame(spark, m.collect(), m.schema)


def latest_metrics(metrics: DataFrame) -> DataFrame:
    """W2/W3: latest value per metric (A4:824-833/902-907)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("metric_group", "metric_name").orderBy(F.desc("computed_at"))
    return metrics.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def observed_write(
    df: DataFrame,
    path: str,
    rules: list[DqRule],
    mode: str = "append",
) -> dict[str, float]:
    """One-pass ingest + DQ: compute the metric suite DURING the write job
    via the Observation API — the data is scanned once, not written then
    re-read for metrics. At 100 TB this halves the ingest pipeline's IO
    versus write-then-profile.

    Returns {metric_name: ratio} (plus ``_rows``).
    """
    from pyspark.sql import Observation

    obs = Observation("dq")
    aggs = [F.avg(F.when(r.pred, 1.0).otherwise(0.0)).alias(r.name) for r in rules]
    observed = df.observe(obs, F.count(F.lit(1)).alias("_rows"), *aggs)
    observed.write.mode(mode).parquet(path)
    return dict(obs.get)


def streaming_dq(
    spark: SparkSession,
    stage_dir: str,
    schema,
    rules: list[DqRule],
    metrics_dir: str,
    checkpoint_dir: str,
    transform=None,
) -> None:
    """DQ-on-arrival: evaluate the rule suite on EVERY micro-batch and
    append the metric rows — the streaming form of the reference's
    10/30-minute DQ tasks (A4:865-884), except metrics cover exactly the
    fresh rows instead of rescanning the table. Alerting then runs on
    ``latest_metrics`` of the metrics table as in batch."""

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        df = transform(batch_df) if transform is not None else batch_df
        if df.isEmpty():
            return
        run_dq(batch_df.sparkSession, df, rules, metrics_dir, group="stream_dq")

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(stage_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def dq_alerts(spark: SparkSession, metrics: DataFrame, rules: list[DqRule]) -> DataFrame:
    """G7: join latest metrics against thresholds, emit breach rows
    (A4:874-919)."""
    thresholds = local_frame(
        spark, [(r.name, float(r.threshold)) for r in rules], "metric_name string, threshold double"
    )
    latest = latest_metrics(metrics)
    return (
        latest.join(F.broadcast(thresholds), "metric_name", "inner")
        .filter(F.col("metric_value") < F.col("threshold"))
        .select(
            F.timestamp_seconds(F.lit(time.time())).cast("timestamp_ntz").alias("alert_time"),
            "metric_name",
            "metric_value",
            "threshold",
            F.concat(
                F.lit("metric "), F.col("metric_name"), F.lit(" below threshold")
            ).alias("note"),
        )
    )
