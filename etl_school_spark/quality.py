"""Data-quality layer (SURVEY.md §2.10 G2/G7; §2.4 A5–A8, §5.4).

Re-expresses the reference's RUN_DQ procedure + alerting DAG
(A4:738-770, 842-919): a metric suite observed in ONE pass over the table
(conditional aggregation), appended in long form to a metrics table;
alerts are the latest metrics checked against a threshold map.
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


DQ_METRICS_SCHEMA = (
    "metric_group string, metric_name string, metric_value double, "
    "metric_den double, computed_at timestamp_ntz"
)


def _check_unique(rules: list[DqRule]) -> None:
    """A suite names each metric once: the metrics table, ``latest_metrics``
    and the alerts' threshold map all key on the rule name."""
    seen: set[str] = set()
    for r in rules:
        if r.name in seen:
            raise ValueError(f"duplicate DQ rule name: {r.name!r}")
        seen.add(r.name)


def _ratios(rules: list[DqRule]) -> list[Column]:
    """The suite's aggregates, avg(iff(pred,1,0)) per rule (A4:800-818),
    unnamed: the one form ``run_dq`` and ``observed_write`` both observe."""
    _check_unique(rules)
    return [F.avg(F.when(r.pred, 1.0).otherwise(0.0)) for r in rules]


def run_dq(
    spark: SparkSession,
    df: DataFrame,
    rules: list[DqRule],
    metrics_dir: str | None = None,
    group: str = "dq",
) -> DataFrame:
    """G2 RUN_DQ: compute each rule's ratio metric (``_ratios``) in ONE
    pass over ``df``; optionally append the metric rows to the metrics
    table; return them in long form (metric_group, metric_name,
    metric_value, metric_den, computed_at).

    The suite is observed (``df.observe``) on one scan into the ``noop``
    sink, so that scan is the call's only Spark job: an ``agg().collect()``
    needs an exchange job first. The returned frame holds the rows, so
    reading it runs no second pass. ``computed_at`` is the call's wall
    clock in the session time zone. Rule names must be unique
    (``ValueError`` otherwise).
    """
    from pyspark.sql import Observation

    ratios = _ratios(rules)
    obs = Observation()
    df.observe(
        obs,
        F.count(F.lit(1)).cast("double").alias("den"),
        F.timestamp_seconds(F.lit(time.time())).cast("timestamp_ntz").alias("at"),
        *[c.alias(f"m{i}") for i, c in enumerate(ratios)],
    ).write.format("noop").mode("overwrite").save()
    got = obs.get
    rows = [(group, r.name, got[f"m{i}"], got["den"], got["at"]) for i, r in enumerate(rules)]
    if metrics_dir:
        return append_rows(spark, metrics_dir, rows, DQ_METRICS_SCHEMA)
    return local_frame(spark, rows, DQ_METRICS_SCHEMA)


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
    aggs = [c.alias(r.name) for r, c in zip(rules, _ratios(rules))]
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
    """G7: emit a breach row for each latest metric below its rule's
    threshold (A4:874-919). Each threshold is looked up in a literal map
    keyed by rule name, so the check needs no join, and no job to
    broadcast a threshold table; a metric with no rule emits nothing.
    Rule names must be unique (``ValueError`` otherwise)."""
    _check_unique(rules)
    thresholds = F.create_map(
        *[F.lit(v) for r in rules for v in (r.name, float(r.threshold))]
    ).cast("map<string,double>")
    return (
        latest_metrics(metrics)
        .withColumn("threshold", thresholds[F.col("metric_name")])
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
