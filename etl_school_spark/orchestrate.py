"""Mini task-DAG orchestrator with audit tables (SURVEY.md §2.9 T3–T7, T10).

The reference schedules Snowflake tasks with AFTER-dependencies and reads
task_history/copy_history for monitoring (A4:364-368, 506-617, 692-728).
Here: a driver-side scheduler that starts each job function on its own
driver thread as soon as its parents finish, honors conditional skips (a
job returning 0 rows marks SKIPPED — the ``when system$stream_has_data``
analog), fans in multiple parents, and appends one audit row per task to a
parquet ``task_history`` table the engine's own queries can then analyze
(A12-style span rollups). As in a Snowflake task graph, tasks with no
``after`` path between them may run at the same time, so every task must
declare each task whose output it reads.
"""

from __future__ import annotations

import time
import traceback
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from etl_school_spark.sources.writers import _restore_interrupted_swap, append_rows, replace_table

AUDIT_SCHEMA = (
    "run_id string, task_name string, state string, scheduled_time double, "
    "completed_time double, rows_processed long, error string"
)


@dataclass
class Task:
    """A named job. ``fn(spark) -> int`` returns rows processed (0 → the
    run is recorded as SKIPPED, matching stream-has-data conditional
    tasks)."""

    name: str
    fn: object
    after: list[str] = field(default_factory=list)


class TaskDag:
    def __init__(self, spark: SparkSession, history_dir: str):
        self.spark = spark
        self.history_dir = history_dir
        self.tasks: dict[str, Task] = {}

    def add(self, name: str, fn, after: list[str] | None = None) -> "TaskDag":
        self.tasks[name] = Task(name, fn, list(after or []))
        return self

    # -- execution --------------------------------------------------------
    def run(self, run_id: str | None = None) -> dict[str, str]:
        """Execute all tasks, each as soon as its parents have finished
        (fan-out/fan-in safe).

        Ready tasks run concurrently on driver threads that inherit the
        caller's job group and local properties, so tasks with no ``after``
        path between them may overlap: a task must declare every task whose
        output it reads. A failed task marks its descendants
        UPSTREAM_FAILED (they do not run) — the reference's
        suspended-dependents behavior — while independent branches go on.
        Returns {task: status}.
        """
        run_id = run_id or f"run_{time.time_ns()}"
        graph = TopologicalSorter({n: set(t.after) for n, t in self.tasks.items()})
        graph.prepare()
        status: dict[str, str] = {}
        audit_rows = []
        running = {}
        with ThreadPoolExecutor(max_workers=max(1, len(self.tasks)), thread_name_prefix="dag") as pool:
            while graph.is_active():
                for name in graph.get_ready():
                    task = self.tasks[name]
                    if any(status[p] in ("FAILED", "UPSTREAM_FAILED") for p in task.after):
                        status[name] = "UPSTREAM_FAILED"
                        audit_rows.append((run_id, name, "UPSTREAM_FAILED", time.time(), time.time(), 0, None))
                        graph.done(name)
                        continue
                    # wrapped here, on the caller's thread: the wrapper copies
                    # the local properties (job group, pool, tags) it has now
                    fn = inheritable_thread_target(self.spark)(_run_task)
                    running[pool.submit(fn, task, self.spark)] = name
                if not running:
                    continue  # only UPSTREAM_FAILED marks: new tasks may be ready
                finished, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in finished:
                    name = running.pop(fut)
                    state, t0, t1, n, err = fut.result()
                    status[name] = state
                    audit_rows.append((run_id, name, state, t0, t1, n, err))
                    graph.done(name)
        append_rows(self.spark, self.history_dir, audit_rows, AUDIT_SCHEMA)
        return status

    # -- monitoring (T7) --------------------------------------------------
    def history(self) -> DataFrame:
        return self.spark.read.parquet(self.history_dir)

    def task_durations(self) -> DataFrame:
        """Per-task avg/max duration seconds (A4:714-728)."""
        from pyspark.sql import functions as F

        h = self.history().withColumn(
            "duration_sec", F.col("completed_time") - F.col("scheduled_time")
        )
        return h.groupBy("task_name").agg(
            F.count("*").alias("n_runs"),
            F.avg("duration_sec").alias("avg_sec"),
            F.max("duration_sec").alias("max_sec"),
        )

    def pipeline_span(self) -> DataFrame:
        """Per-run start/end/elapsed (A4:692-704)."""
        from pyspark.sql import functions as F

        return self.history().groupBy("run_id").agg(
            F.min("scheduled_time").alias("started"),
            F.max("completed_time").alias("completed"),
            (F.max("completed_time") - F.min("scheduled_time")).alias("span_sec"),
        )


def _run_task(task: Task, spark: SparkSession) -> tuple:
    """Run one task; returns (state, started, completed, rows, error)."""
    t0 = time.time()
    try:
        n = int(task.fn(spark) or 0)
    except Exception:
        return "FAILED", t0, time.time(), 0, traceback.format_exc()[-2000:]
    return ("SUCCEEDED" if n > 0 else "SKIPPED"), t0, time.time(), n, None


def retention_sweep(
    spark: SparkSession, table_dir: str, ts_col: str, keep_days: int = 90, now_ts: float | None = None
) -> int:
    """T10: delete rows older than the retention window (A4:1029-1035).

    Plain parquet has no row deletes — rewrite keeping recent rows
    (at scale: date-partitioned table + partition drop, no rewrite) and
    swap the rewrite in crash-safely; the retained rows are counted on
    that one write. Returns rows retained.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    _restore_interrupted_swap(table_dir)
    df = spark.read.parquet(table_dir)
    now = (
        F.expr(f"timestampadd(SECOND, {int(now_ts)}, TIMESTAMP_NTZ '1970-01-01 00:00:00')")
        if now_ts is not None
        else F.current_timestamp().cast("timestamp_ntz")
    )
    cutoff = now - F.expr(f"INTERVAL {keep_days} DAYS")
    kept = Observation()
    replace_table(
        df.filter(F.col(ts_col) >= cutoff).observe(kept, F.count(F.lit(1)).alias("n")), table_dir
    )
    return kept.get["n"]


def write_date_partitioned(
    df: DataFrame, table_dir: str, ts_col: str, date_col: str = "dt", mode: str = "append"
) -> None:
    """Lay a table out partitioned by event date — the storage layout that
    makes retention a partition drop and date filters a partition prune."""
    from pyspark.sql import functions as F

    df.withColumn(date_col, F.to_date(F.col(ts_col))).write.partitionBy(date_col).mode(
        mode
    ).parquet(table_dir)


def retention_sweep_partitioned(
    table_dir: str, keep_days: int = 90, now_ts: float | None = None, date_col: str = "dt"
) -> tuple[int, int]:
    """T10 at scale: drop whole expired date partitions — a directory
    delete, no data rewrite, no scan. This is how the daily CRON retention
    task (A4:1029-1035) must run on a 100 TB table.

    Returns (partitions_dropped, partitions_kept).
    """
    import datetime
    import os
    import shutil

    now = datetime.datetime.fromtimestamp(now_ts, datetime.UTC) if now_ts else datetime.datetime.now(datetime.UTC)
    cutoff = (now - datetime.timedelta(days=keep_days)).date().isoformat()
    dropped = kept = 0
    for entry in sorted(os.listdir(table_dir)):
        if not entry.startswith(f"{date_col}="):
            continue
        if entry.split("=", 1)[1] < cutoff:
            shutil.rmtree(os.path.join(table_dir, entry))
            dropped += 1
        else:
            kept += 1
    return dropped, kept
