"""``ingest`` workload: the credit-card write path, one micro-batch per
operation.

An ``orchestrate.TaskDag`` runs each batch: publish to the ``FileBroker``
topic and drop the raw lines (about 0.1% corrupt) on the stage, then
``copy_into`` (rejects + copy history) and ``incremental_ingest``
(availableNow) from the topic, then ``run_dq`` + ``dq_alerts`` and
``merge_upsert`` on the freshly landed rows, plus ``compact_parquet_dir``
on the copy target after every batch. About 10% of each batch reuses an
earlier ``txn_id``, so the keyed merge rewrites existing rows.
"""

from __future__ import annotations

import glob
import itertools
import os
from statistics import median

import gen

BATCH = 5000
# the warm-up batches run every task of the DAG, compaction included, and
# are small: a batch costs about the same at 1,000 records as at 5,000, and
# what warms up (JIT, plan code generation) is the number of batches run,
# not their size
WARMUP_BATCHES = 2
WARMUP_BATCH = 1000
TOPIC = "cc"


def _rules():
    from pyspark.sql import functions as F

    from etl_school_spark.quality import DqRule

    return [
        DqRule("non_null_txn_id", F.col("txn_id").isNotNull(), 1.00),
        DqRule("non_null_amount", F.col("amount").isNotNull(), 1.00),
        DqRule("amount_ok", F.col("amount").between(0, 5000), 0.95),
        DqRule("currency_ok", F.col("currency") == "USD", 0.99),
    ]


def _python_dq(records: list[dict]) -> dict[str, float]:
    """The rule suite recomputed from the generated records."""
    n = len(records)
    tx = [r["transaction"] for r in records]
    return {
        "non_null_txn_id": sum(t["id"] is not None for t in tx) / n,
        "non_null_amount": sum(t["amount"] is not None for t in tx) / n,
        "amount_ok": sum(0 <= t["amount"] <= 5000 for t in tx) / n,
        "currency_ok": sum(t["currency"] == "USD" for t in tx) / n,
    }


class Lane:
    """One ingest root: broker, stage, tables and the per-batch DAG."""

    def __init__(self, ctx, root: str):
        from pyspark.sql.types import StringType, StructField, StructType

        from etl_school_spark.schemas import CC_PAYLOAD
        from etl_school_spark.streaming.broker import FileBroker

        self.ctx, self.root = ctx, root
        self.broker = FileBroker(ctx.spark, os.path.join(root, "broker"))
        self.stage = os.path.join(root, "stage")
        self.raw = os.path.join(root, "raw")
        self.typed = os.path.join(root, "typed")
        self.keyed = os.path.join(root, "keyed")
        self.dq_dir = os.path.join(root, "dq_metrics")
        # copy_into only diverts unparseable lines when the schema carries
        # the corrupt-record column; with the plain payload schema they load
        # as all-NULL rows
        self.stage_schema = StructType(
            list(CC_PAYLOAD.fields) + [StructField("_corrupt_record", StringType())]
        )
        self.rules = _rules()
        self.batches: list[dict] = []
        self.outputs: list[dict] = []
        self.progress: list[dict] = []

    def run_batch(self, batch: dict) -> None:
        from etl_school_spark.orchestrate import TaskDag
        from etl_school_spark.quality import dq_alerts, run_dq
        from etl_school_spark.sources.writers import compact_parquet_dir, copy_into, merge_upsert
        from etl_school_spark.streaming.pipelines import incremental_ingest

        spark, span, b = self.ctx.spark, self.ctx.rec.span, len(self.batches)
        self.batches.append(batch)
        out = {"published": len(batch["records"]), "stage_lines": len(batch["stage_lines"]),
               "n_corrupt": batch["n_corrupt"], "dq_want": _python_dq(batch["records"])}
        before = set(glob.glob(os.path.join(self.typed, "*.parquet")))
        # one stage prefix per batch: copy_into caches the parsed stage frame
        # and never releases it, so a second load from the SAME directory
        # and schema silently re-reads the first batch from that cache
        stage = os.path.join(self.stage, f"batch_{b:06d}")

        def publish(_spark):
            with span("streaming.publish"):
                n = self.broker.publish(TOPIC, batch["records"])
                os.makedirs(stage)
                path = os.path.join(stage, "lines.json")
                with open(path + ".tmp", "w") as fh:
                    fh.write("\n".join(batch["stage_lines"]) + "\n")
                os.rename(path + ".tmp", path)
            return n

        def copy(_spark):
            with span("sources.copy_into"):
                out["loaded"] = copy_into(_spark, stage, self.raw, self.stage_schema,
                                          history_dir=os.path.join(self.root, "copy_history"))
            return out["loaded"]

        def drain(_spark):
            with span("streaming.drain"):
                q = incremental_ingest(_spark, self.broker.topic_dir(TOPIC), self.typed,
                                       os.path.join(self.root, "ckpt"))
            progress = [_progress(p) for p in q.recentProgress]
            self.progress += progress
            return sum(p["rows"] for p in progress)

        def fresh(_spark):
            new = sorted(set(glob.glob(os.path.join(self.typed, "*.parquet"))) - before)
            return _spark.read.parquet(*new)

        def quality(_spark):
            with span("quality.run_dq"):
                m = run_dq(_spark, fresh(_spark), self.rules, self.dq_dir, group="ingest")
                out["dq_got"] = {r.metric_name: r.metric_value for r in m.collect()}
            with span("quality.alerts"):
                alerts = dq_alerts(_spark, _spark.read.parquet(self.dq_dir), self.rules)
                out["alerts"] = sorted(r.metric_name for r in alerts.collect())
            return len(out["dq_got"])

        def merge(_spark):
            with span("sources.merge_upsert"):
                _, out["keyed_rows"] = merge_upsert(_spark, self.keyed, fresh(_spark), "txn_id")
            return out["keyed_rows"]

        def compact(_spark):
            with span("sources.compact"):
                compact_parquet_dir(_spark, self.raw)
            return 1

        dag = TaskDag(spark, os.path.join(self.root, "task_history"))
        dag.add("publish", publish)
        dag.add("copy_into", copy, after=["publish"])
        dag.add("ingest", drain, after=["publish"])
        dag.add("dq", quality, after=["ingest"])
        dag.add("merge", merge, after=["ingest"])
        dag.add("compact", compact, after=["copy_into"])
        with span("orchestrate.dag"):
            status = dag.run(run_id=f"batch_{b}")
        self.outputs.append(out)
        failed = {k: v for k, v in status.items() if v not in ("SUCCEEDED", "SKIPPED")}
        if failed:
            raise RuntimeError(f"batch {b}: tasks did not succeed: {failed}")

    def check(self) -> list[str]:
        import duckdb

        spark, problems = self.ctx.spark, []
        outs = self.outputs
        published = sum(o["published"] for o in outs)
        corrupt = sum(o["n_corrupt"] for o in outs)
        rejected = self.rejected()
        loaded = spark.read.parquet(self.raw).count()
        if loaded + rejected != sum(o["stage_lines"] for o in outs):
            problems.append(f"copy_into: loaded {loaded} + rejected {rejected} != staged lines")
        if rejected != corrupt:
            problems.append(f"copy_into rejected {rejected} lines, {corrupt} were corrupt")
        if spark.read.parquet(self.typed).count() != published:
            problems.append("incremental_ingest did not land every published record")
        keys = {r["transaction"]["id"] for o in self.batches for r in o["records"]}
        con = duckdb.connect()
        n, n_distinct = con.execute(
            f"SELECT count(*), count(DISTINCT txn_id) FROM '{self.keyed}/*.parquet'"
        ).fetchone()
        if n != len(keys) or n_distinct != len(keys):
            problems.append(f"merge_upsert: {n} rows / {n_distinct} keys, generated {len(keys)} keys")
        for b, o in enumerate(outs):
            if "dq_got" not in o or "alerts" not in o:
                problems.append(f"batch {b}: the DQ task did not finish")
                continue
            if o["dq_got"] != o["dq_want"]:
                problems.append(f"batch {b}: DQ {o['dq_got']} != recomputed {o['dq_want']}")
            want_alerts = sorted(r.name for r in self.rules if o["dq_want"][r.name] < r.threshold)
            if o["alerts"] != want_alerts:
                problems.append(f"batch {b}: alerts {o['alerts']} != {want_alerts}")
        return problems

    def rejected(self) -> int:
        files = glob.glob(os.path.join(self.raw + "__rejects", "*.json"))
        return sum(1 for f in files for _ in open(f))


def _progress(p: dict) -> dict:
    return {"rows": int(p["numInputRows"]), "trigger_ms": float(p["durationMs"]["triggerExecution"])}


class Workload:
    min_ops = 2

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self) -> None:
        # the warm-up batches are the stream's first batches, into the same
        # tables: measured batches merge into a populated keyed table
        sizes = itertools.chain([WARMUP_BATCH] * WARMUP_BATCHES, itertools.repeat(BATCH))
        self.stream = gen.cc_batches(self.ctx.seed, sizes)
        self.lane = Lane(self.ctx, os.path.join(self.ctx.tmp, "ingest"))
        for _ in range(WARMUP_BATCHES):
            self.lane.run_batch(next(self.stream))
        self.next = next(self.stream)

    def op(self, i: int) -> int:
        batch, self.next = self.next, None
        self.lane.run_batch(batch)
        return len(batch["records"])

    def prepare(self, i: int) -> None:
        if self.next is None:
            self.next = next(self.stream)

    def check(self) -> list[str]:
        return self.lane.check()

    def layer_metrics(self, rec, traced_ops: list[int], lat: dict[int, float]) -> dict:
        def med(name, scale=1.0):
            vals = [s.dur for s in rec.spans if s.name == name and s.op in traced_ops]
            return median(vals) * scale if vals else 0.0

        lane = self.lane
        dags = [s for s in rec.spans if s.name == "orchestrate.dag" and s.op in traced_ops]
        gen_bytes = sum(len(line) + 1 for b in lane.batches for line in b["stage_lines"])
        disk = sum(os.path.getsize(f) for f in glob.glob(os.path.join(lane.root, "**"), recursive=True)
                   if os.path.isfile(f))
        trig = [p for p in lane.progress if p["rows"]]
        return {
            "sources.copy_into_s": med("sources.copy_into"),
            "sources.merge_upsert_s": med("sources.merge_upsert"),
            "sources.compact_s": med("sources.compact"),
            "sources.rows_rejected": lane.rejected(),
            "sources.write_amplification": disk / gen_bytes,
            "streaming.publish_ms": med("streaming.publish", 1000),
            "streaming.drain_s": med("streaming.drain"),
            "streaming.trigger_ms": median(p["trigger_ms"] for p in trig) if trig else 0.0,
            "streaming.rows_per_trigger": median(p["rows"] for p in trig) if trig else 0.0,
            "quality.run_dq_s": med("quality.run_dq"),
            "quality.alerts_s": med("quality.alerts"),
            "orchestrate.dag_overhead_s": median(rec.self_time(s) for s in dags) if dags else 0.0,
        }
