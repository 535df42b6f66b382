"""File-backed topic broker: the Spark-native re-expression of the
reference's SQLite Kafka-like broker (assignment3/simple_kafka_setup.py).

Mapping (SURVEY.md §2.1 S13–S17, §2.9 T8):
- create_topic / publish  ≈ simple_kafka_setup.py:85-112 — append-only log,
  here one JSON-lines file per publish batch
- consume (streaming)     ≈ the consumer worker threads (:114-177); each
  consumer group gets its own checkpoint dir, so offsets advance
  independently per group — exactly the consumer_offsets table semantics
- delivery audit          ≈ claimed_by/delivered_at stamping (:146-166);
  recorded per micro-batch by foreachBatch into an audit dir
- stats                   ≈ get_topic_stats (:179-203) — counts derived
  from the topic dir and the audit table

Delivery semantics: each message is processed exactly once per consumer
group (Structured Streaming file-source checkpointing), which is the
load-balancing guarantee the reference builds manually with BEGIN
IMMEDIATE claims ("each message delivered to exactly one consumer in the
group", SIMPLE_KAFKA_TUTORIAL.md:58-79) — in Spark the "group" is the
query and its tasks split the files/partitions.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from etl_school_spark.sources.writers import append_rows, read_table

# one row per (micro-batch, consumer): claimed_by ≈ the consumer group
DELIVERY_AUDIT_SCHEMA = (
    "topic string, claimed_by string, consumer_id int, batch_id long, "
    "n_messages long, delivered_at double"
)


class FileBroker:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- admin ------------------------------------------------------------
    def topic_dir(self, topic: str) -> str:
        return os.path.join(self.root, "topics", topic)

    def create_topic(self, topic: str) -> None:
        os.makedirs(self.topic_dir(topic), exist_ok=True)

    def list_topics(self) -> list[str]:
        base = os.path.join(self.root, "topics")
        return sorted(os.listdir(base)) if os.path.isdir(base) else []

    # -- produce ----------------------------------------------------------
    def publish(self, topic: str, records: list[dict]) -> int:
        """Append a batch of JSON messages to the topic log (atomic file
        drop: write to a temp name, rename into place)."""
        self.create_topic(topic)
        fname = f"batch_{time.time_ns()}_{uuid.uuid4().hex[:8]}.json"
        final = os.path.join(self.topic_dir(topic), fname)
        tmp = final + ".tmp"
        with open(tmp, "w") as fh:
            for r in records:
                fh.write(json.dumps(r) + "\n")
        os.rename(tmp, final)
        return len(records)

    # -- consume ----------------------------------------------------------
    def stream(self, topic: str, schema: StructType) -> DataFrame:
        """Streaming DataFrame over the topic log."""
        self.create_topic(topic)
        return (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 16)  # micro-batch size control (T9)
            .json(self.topic_dir(topic))
        )

    def consume_available(
        self,
        topic: str,
        schema: StructType,
        consumer_group: str,
        sink_dir: str,
        transform=None,
    ) -> None:
        """Drain everything currently published (trigger availableNow) into
        ``sink_dir`` under this consumer group's checkpoint, stamping a
        delivery-audit row per micro-batch (claimed_by ≈ consumer_group)."""
        ckpt = os.path.join(self.root, "checkpoints", consumer_group, topic)
        audit_dir = os.path.join(self.root, "audit", topic)
        os.makedirs(audit_dir, exist_ok=True)
        src = self.stream(topic, schema)
        if transform is not None:
            src = transform(src)

        group = consumer_group

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.persist()
            # per-task claim counts — the reference's load-balancing check
            # ("each message claimed by exactly one consumer"; consumers ≈
            # the query's tasks) queries claims per consumer id
            per_task = (
                batch_df.groupBy(F.spark_partition_id().alias("consumer_id"))
                .agg(F.count(F.lit(1)).alias("n_messages"))
                .collect()
            )
            if per_task:
                batch_df.write.mode("append").parquet(sink_dir)
                rows = [
                    (topic, group, int(r.consumer_id), int(batch_id), int(r.n_messages), time.time())
                    for r in per_task
                ]
                append_rows(batch_df.sparkSession, audit_dir, rows, DELIVERY_AUDIT_SCHEMA)
            batch_df.unpersist()

        q = (
            src.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def consume_available_group(
        self,
        topic: str,
        schema: StructType,
        consumer_group: str,
        sink_dir: str,
        n_consumers: int = 2,
        transform=None,
    ) -> None:
        """S14/T8 with an explicit N-member group: each message belongs to
        exactly ONE member, decided by a deterministic hash of its source
        file — the Spark-native form of 'consumers in a group split the
        topic's partitions'. Every member runs its own checkpointed drain
        over its disjoint slice; the union of slices is the topic.
        """
        src_dir = self.topic_dir(topic)
        for member in range(n_consumers):
            ckpt = os.path.join(
                self.root, "checkpoints", consumer_group, f"m{member}", topic
            )
            audit_dir = os.path.join(self.root, "audit", topic)
            os.makedirs(audit_dir, exist_ok=True)
            src = (
                self.spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 16)
                .json(src_dir)
                .withColumn("_file", F.input_file_name())
                .filter(F.pmod(F.xxhash64(F.col("_file")), F.lit(n_consumers)) == member)
                .drop("_file")
            )
            if transform is not None:
                src = transform(src)
            topic_, group, member_ = topic, consumer_group, member

            def sink(batch_df: DataFrame, batch_id: int, _m=member_) -> None:
                n = batch_df.count()
                if n:
                    batch_df.write.mode("append").parquet(sink_dir)
                    row = (topic_, group, int(_m), int(batch_id), int(n), time.time())
                    append_rows(batch_df.sparkSession, audit_dir, [row], DELIVERY_AUDIT_SCHEMA)

            q = (
                src.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    # -- observe ----------------------------------------------------------
    def claims(self, topic: str) -> DataFrame:
        """Per-(group, consumer) claim counts — the reference's
        load-balancing verification query (SIMPLE_KAFKA_TUTORIAL.md:75-79:
        claim counts per consumer id prove every message went to exactly
        one group member)."""
        audit_dir = os.path.join(self.root, "audit", topic)
        return (
            read_table(self.spark, audit_dir)
            .groupBy("claimed_by", "consumer_id")
            .agg(F.sum("n_messages").alias("n_claimed"))
            .orderBy("claimed_by", "consumer_id")
        )

    def stats(self, topic: str) -> dict:
        """Queue-depth / delivery stats (broker get_topic_stats analog)."""
        tdir = self.topic_dir(topic)
        published = 0
        if os.path.isdir(tdir):
            for f in os.listdir(tdir):
                if f.endswith(".json"):
                    with open(os.path.join(tdir, f)) as fh:
                        published += sum(1 for _ in fh)
        audit_dir = os.path.join(self.root, "audit", topic)
        delivered: dict[str, int] = {}
        if os.path.isdir(audit_dir) and os.listdir(audit_dir):
            rows = (
                read_table(self.spark, audit_dir)
                .groupBy("claimed_by")
                .agg(F.sum("n_messages").alias("n"))
                .collect()
            )
            delivered = {r.claimed_by: r.n for r in rows}
        return {
            "topic": topic,
            "published": published,
            "delivered_by_group": delivered,
            "pending_by_group": {g: published - n for g, n in delivered.items()},
        }
