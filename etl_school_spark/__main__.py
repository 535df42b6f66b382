"""CLI — the engine's equivalents of the reference's entry points.

Reference usage (README.md:131-143, SIMPLE_KAFKA_TUTORIAL.md:18-40):
  python data_generator.py N | python batch_insert.py B
  python simple_publish_data.py TOPIC / simple_consume_data.py TOPIC
Engine usage:
  python -m etl_school_spark generate  --n 1000 --out /tmp/orders
  python -m etl_school_spark ingest    --stage /tmp/orders --table-dir /tmp/warehouse/orders
  python -m etl_school_spark publish   --broker /tmp/broker --topic cc --n 100
  python -m etl_school_spark consume   --broker /tmp/broker --topic cc --group g1 --sink /tmp/cc
  python -m etl_school_spark dq        --table-dir /tmp/cc
  python -m etl_school_spark validate  --table-dir /tmp/warehouse/orders --group-by car_model
  python -m etl_school_spark corpus-build --out /tmp/shards --shards 8 --near-dedup
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark():
    from etl_school_spark.session import get_spark

    return get_spark("etl-school-spark-cli")


def cmd_generate(args) -> int:
    from etl_school_spark.sources.generator import gen_buy_orders

    spark = _spark()
    df = gen_buy_orders(spark, args.n, seed=args.seed)
    df.write.mode("overwrite").json(args.out)
    print(json.dumps({"generated": args.n, "out": args.out}))
    return 0


def cmd_ingest(args) -> int:
    from etl_school_spark.schemas import CLIENT_BUY_ORDERS
    from etl_school_spark.sources.readers import read_stage, split_corrupt
    from etl_school_spark.sources.writers import write_parquet

    spark = _spark()
    good, bad = split_corrupt(read_stage(spark, args.stage, CLIENT_BUY_ORDERS))
    write_parquet(good, args.table_dir)
    print(json.dumps({"ingested": good.count(), "corrupt": bad.count(), "table": args.table_dir}))
    return 0


def cmd_publish(args) -> int:
    from etl_school_spark.sources.generator import gen_cc_events
    from etl_school_spark.streaming.broker import FileBroker

    spark = _spark()
    broker = FileBroker(spark, args.broker)
    n = broker.publish(args.topic, gen_cc_events(args.n, seed=args.seed))
    print(json.dumps({"published": n, "topic": args.topic} | broker.stats(args.topic)))
    return 0


def cmd_consume(args) -> int:
    from etl_school_spark.schemas import CC_PAYLOAD
    from etl_school_spark.streaming.broker import FileBroker
    from etl_school_spark.streaming.pipelines import flatten_cc_payload

    spark = _spark()
    broker = FileBroker(spark, args.broker)
    broker.consume_available(
        args.topic, CC_PAYLOAD, args.group, args.sink, transform=flatten_cc_payload
    )
    print(json.dumps(broker.stats(args.topic)))
    return 0


def cmd_dq(args) -> int:
    from pyspark.sql import functions as F

    from etl_school_spark.quality import DqRule, dq_alerts, run_dq

    spark = _spark()
    df = spark.read.parquet(args.table_dir)
    rules = [
        DqRule("non_null_txn_id", F.col("txn_id").isNotNull(), 1.00),
        DqRule("amount_ok", F.col("amount").between(0, 50000), 0.95),
        DqRule("approved_rate", F.col("approved"), 0.99),
    ]
    metrics = run_dq(spark, df, rules, args.metrics_dir)
    alerts = dq_alerts(spark, metrics, rules)
    print(
        json.dumps(
            {
                "metrics": {r.metric_name: r.metric_value for r in metrics.collect()},
                "alerts": [r.metric_name for r in alerts.collect()],
            }
        )
    )
    return 0


def cmd_consume_group(args) -> int:
    from etl_school_spark.schemas import CC_PAYLOAD
    from etl_school_spark.streaming.broker import FileBroker
    from etl_school_spark.streaming.pipelines import flatten_cc_payload

    spark = _spark()
    broker = FileBroker(spark, args.broker)
    broker.consume_available_group(
        args.topic, CC_PAYLOAD, args.group, args.sink,
        n_consumers=args.consumers, transform=flatten_cc_payload,
    )
    claims = {
        f"consumer_{r.consumer_id}": r.n_claimed
        for r in broker.claims(args.topic).collect()
        if r.claimed_by == args.group
    }
    print(json.dumps({"group": args.group, "claims": claims} | broker.stats(args.topic)))
    return 0


def cmd_rollup(args) -> int:
    from etl_school_spark.streaming.rollup import continuous_rollup, read_rollup

    spark = _spark()
    continuous_rollup(spark, args.stage, args.rollup_dir, args.checkpoint)
    n = read_rollup(spark, args.rollup_dir).count()
    print(json.dumps({"rollup": args.rollup_dir, "buckets": n}))
    return 0


def cmd_compact(args) -> int:
    from etl_school_spark.sources.writers import compact_parquet_dir

    spark = _spark()
    before, after = compact_parquet_dir(spark, args.table_dir, args.target_mb)
    print(json.dumps({"files_before": before, "files_after": after}))
    return 0


def cmd_explain(args) -> int:
    import __spark_entry__ as e

    spark = _spark()
    qs = e.queries()
    if args.query not in qs:
        print(json.dumps({"error": f"unknown query {args.query}", "known": sorted(qs)}))
        return 1
    df = qs[args.query](spark, args.sf_dir)
    print(
        df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
    )
    return 0


def cmd_validate(args) -> int:
    """The reference's post-load validation: count, preview, distribution
    (commands.sql:106-115)."""
    from pyspark.sql import functions as F

    spark = _spark()
    df = spark.read.parquet(args.table_dir)
    dist = (
        df.groupBy(args.group_by)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"))
        .limit(10)
        .collect()
    )
    print(
        json.dumps(
            {
                "rows": df.count(),
                "columns": df.columns,
                "top_groups": {str(r[args.group_by]): r.n for r in dist},
            }
        )
    )
    return 0


def cmd_corpus_build(args) -> int:
    """The capstone training-corpus build (pipeline.build_corpus):
    filter → scrub → dedup → reshard → pack → partitioned shard write."""
    from pyspark.sql import functions as F

    from etl_school_spark.pipeline import build_corpus, write_corpus_shards
    from etl_school_spark.tables import load_table

    spark = _spark()
    docs = load_table(spark, args.sf_dir, "documents")
    built = build_corpus(
        docs,
        n_shards=args.shards,
        pack_capacity=args.capacity,
        near_dedup=args.near_dedup,
    )
    write_corpus_shards(built, args.out)
    back = spark.read.parquet(args.out)
    stats = back.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_tokens").alias("tokens"),
        # window numbering restarts per shard (pack_concat_windows), so
        # the global max IS the largest shard's window count — one agg,
        # no second scan
        (F.max("last_window") + 1).alias("max_windows_per_shard"),
    ).collect()[0]
    print(
        json.dumps(
            {
                "input_docs": docs.count(),
                "kept_docs": stats.docs,
                "tokens": stats.tokens,
                "max_windows_per_shard": stats.max_windows_per_shard,
                "shards": args.shards,
                "pack_capacity": args.capacity,
                "out": args.out,
            }
        )
    )
    return 0


def cmd_corpus_stream(args) -> int:
    """availableNow drain of the streaming corpus build
    (streaming/corpus.py): filter → scrub → watermarked fingerprint
    dedup → shard-partitioned parquet sink."""
    from pyspark.sql import functions as F

    from etl_school_spark.streaming.corpus import (
        build_corpus_stream,
        stream_corpus_to_shards,
    )

    spark = _spark()
    schema = spark.read.parquet(args.source).schema
    stream = spark.readStream.schema(schema).parquet(args.source)
    built = build_corpus_stream(
        stream,
        ts_col=args.ts_col,
        watermark_delay=args.watermark,
        n_shards=args.shards,
    )
    q = stream_corpus_to_shards(built, args.out, args.checkpoint)
    q.awaitTermination()
    back = spark.read.parquet(args.out)
    stats = back.agg(
        F.count(F.lit(1)).alias("docs"), F.sum("n_tokens").alias("tokens")
    ).collect()[0]
    print(
        json.dumps(
            {
                "kept_docs": stats.docs,
                "tokens": stats.tokens,
                "shards": args.shards,
                "out": args.out,
            }
        )
    )
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="etl_school_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate", help="generate buy-order JSON-lines")
    g.add_argument("--n", type=int, default=1000)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--out", required=True)
    g.set_defaults(fn=cmd_generate)

    i = sub.add_parser("ingest", help="JSON stage → parquet table (COPY INTO)")
    i.add_argument("--stage", required=True)
    i.add_argument("--table-dir", required=True)
    i.set_defaults(fn=cmd_ingest)

    pub = sub.add_parser("publish", help="publish cc events to a topic")
    pub.add_argument("--broker", required=True)
    pub.add_argument("--topic", default="cc")
    pub.add_argument("--n", type=int, default=100)
    pub.add_argument("--seed", type=int, default=42)
    pub.set_defaults(fn=cmd_publish)

    c = sub.add_parser("consume", help="drain a topic into a parquet sink")
    c.add_argument("--broker", required=True)
    c.add_argument("--topic", default="cc")
    c.add_argument("--group", default="g1")
    c.add_argument("--sink", required=True)
    c.set_defaults(fn=cmd_consume)

    d = sub.add_parser("dq", help="run DQ metrics + alerts on a cc table")
    d.add_argument("--table-dir", required=True)
    d.add_argument("--metrics-dir", default=None)
    d.set_defaults(fn=cmd_dq)

    v = sub.add_parser("validate", help="count/preview/distribution checks")
    v.add_argument("--table-dir", required=True)
    v.add_argument("--group-by", default="car_model")
    v.set_defaults(fn=cmd_validate)

    cg = sub.add_parser("consume-group", help="drain a topic with an N-member group")
    cg.add_argument("--broker", required=True)
    cg.add_argument("--topic", default="cc")
    cg.add_argument("--group", default="g1")
    cg.add_argument("--consumers", type=int, default=2)
    cg.add_argument("--sink", required=True)
    cg.set_defaults(fn=cmd_consume_group)

    ru = sub.add_parser("rollup", help="maintain the continuous hourly rollup")
    ru.add_argument("--stage", required=True)
    ru.add_argument("--rollup-dir", required=True)
    ru.add_argument("--checkpoint", required=True)
    ru.set_defaults(fn=cmd_rollup)

    co = sub.add_parser("compact", help="compact a parquet dir's small files")
    co.add_argument("--table-dir", required=True)
    co.add_argument("--target-mb", type=int, default=128)
    co.set_defaults(fn=cmd_compact)

    ex = sub.add_parser("explain", help="print a registered query's physical plan")
    ex.add_argument("--query", required=True)
    ex.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ex.set_defaults(fn=cmd_explain)

    cb = sub.add_parser(
        "corpus-build",
        help="filter → scrub → dedup → reshard → pack → write training shards",
    )
    cb.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    cb.add_argument("--out", required=True)
    cb.add_argument("--shards", type=int, default=8)
    cb.add_argument("--capacity", type=int, default=2048)
    cb.add_argument("--near-dedup", action="store_true")
    cb.set_defaults(fn=cmd_corpus_build)

    cs = sub.add_parser(
        "corpus-stream",
        help="streaming corpus build: drain a doc source dir into shard sinks "
        "(filter → scrub → watermarked dedup → partitioned parquet)",
    )
    cs.add_argument("--source", required=True, help="parquet dir to readStream")
    cs.add_argument("--out", required=True)
    cs.add_argument("--checkpoint", required=True)
    cs.add_argument("--shards", type=int, default=8)
    cs.add_argument("--ts-col", default=None, help="event-time column for the watermark")
    cs.add_argument("--watermark", default="10 minutes")
    cs.set_defaults(fn=cmd_corpus_stream)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
