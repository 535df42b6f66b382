"""Task-DAG orchestrator tests (T3–T7, T10)."""

from __future__ import annotations

import datetime


def test_dag_runs_in_dependency_order(spark, tmp_path):
    from etl_school_spark.orchestrate import TaskDag

    ran = []

    def job(name, n=1):
        def fn(s):
            ran.append(name)
            return n

        return fn

    dag = TaskDag(spark, str(tmp_path / "history"))
    dag.add("refine", job("refine"), after=["load"])
    dag.add("generate", job("generate"))
    dag.add("load", job("load"), after=["generate"])
    dag.add("wait_all", job("wait_all"), after=["refine", "audit"])
    dag.add("audit", job("audit"), after=["generate"])

    status = dag.run("r1")
    assert status == {n: "SUCCEEDED" for n in ["generate", "load", "refine", "audit", "wait_all"]}
    assert ran.index("generate") < ran.index("load") < ran.index("refine") < ran.index("wait_all")
    assert ran.index("audit") < ran.index("wait_all")


def test_dag_conditional_skip_and_failure_propagation(spark, tmp_path):
    from etl_school_spark.orchestrate import TaskDag

    def boom(s):
        raise RuntimeError("deliberate")

    dag = TaskDag(spark, str(tmp_path / "history"))
    dag.add("empty_stream", lambda s: 0)  # no data → SKIPPED (T4)
    dag.add("broken", boom)
    dag.add("downstream", lambda s: 1, after=["broken"])

    status = dag.run("r2")
    assert status["empty_stream"] == "SKIPPED"
    assert status["broken"] == "FAILED"
    assert status["downstream"] == "UPSTREAM_FAILED"

    h = dag.history()
    assert h.count() == 3
    assert h.filter("state = 'FAILED'").select("error").collect()[0].error


def test_task_monitoring_rollups(spark, tmp_path):
    from etl_school_spark.orchestrate import TaskDag

    dag = TaskDag(spark, str(tmp_path / "history"))
    dag.add("a", lambda s: 5)
    dag.add("b", lambda s: 3, after=["a"])
    dag.run("r1")
    dag.run("r2")

    dur = {r.task_name: r.n_runs for r in dag.task_durations().collect()}
    assert dur == {"a": 2, "b": 2}
    spans = dag.pipeline_span().collect()
    assert {r.run_id for r in spans} == {"r1", "r2"}
    assert all(r.span_sec >= 0 for r in spans)


def test_retention_sweep(spark, tmp_path):
    from etl_school_spark.orchestrate import retention_sweep

    table = str(tmp_path / "t")
    now = datetime.datetime(2026, 1, 1)
    rows = [(i, now - datetime.timedelta(days=i * 10)) for i in range(20)]
    spark.createDataFrame(rows, "id long, ts timestamp_ntz").write.parquet(table)

    kept = retention_sweep(spark, table, "ts", keep_days=90, now_ts=now.timestamp())
    assert kept == 10  # ids 0..9 are within 90 days
    assert spark.read.parquet(table).count() == 10


def test_partitioned_retention_drops_only_expired(spark, tmp_path):
    """Partition-drop retention: expired dt= dirs removed with no rewrite;
    date filters prune partitions in the scan."""
    from etl_school_spark.orchestrate import (
        retention_sweep_partitioned,
        write_date_partitioned,
    )
    from etl_school_spark.tables import load_table

    table = str(tmp_path / "events_part")
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    write_date_partitioned(ev, table, "ts", mode="overwrite")

    dates = sorted(r.dt for r in spark.read.parquet(table).select("dt").distinct().collect())
    assert len(dates) > 2
    # cutoff: keep only the last 2 dates
    import datetime

    cutoff = dates[-2]
    now = datetime.datetime.combine(
        cutoff + datetime.timedelta(days=90), datetime.time(), datetime.UTC
    )
    dropped, kept = retention_sweep_partitioned(table, keep_days=90, now_ts=now.timestamp())
    assert dropped == len(dates) - 2 and kept == 2
    remaining = spark.read.parquet(table)
    assert sorted(r.dt for r in remaining.select("dt").distinct().collect()) == dates[-2:]

    # date predicate must prune partitions, not filter rows post-scan
    plan = remaining.filter(f"dt = DATE'{dates[-1]}'")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]")[0]
    assert pf.strip(), "partition-filter list is empty — predicate not pruned"


def test_dag_runs_independent_branches_concurrently(spark, tmp_path):
    """Siblings with no ``after`` path between them overlap: they meet at a
    barrier that a serial run would break."""
    import threading

    from etl_school_spark.orchestrate import TaskDag

    meet = threading.Barrier(2, timeout=20)

    def sibling(s):
        meet.wait()
        return 1

    dag = TaskDag(spark, str(tmp_path / "history"))
    dag.add("root", lambda s: 1)
    dag.add("left", sibling, after=["root"])
    dag.add("right", sibling, after=["root"])
    dag.add("join", lambda s: 1, after=["left", "right"])
    assert dag.run("r1") == {n: "SUCCEEDED" for n in ["root", "left", "right", "join"]}


def test_dag_wide_fan_out_keeps_dependency_order(spark, tmp_path):
    """More ready tasks than cores, with a short switch interval: no task
    starts before every parent has finished, and each gets one audit row."""
    import sys
    import threading
    import time

    from etl_school_spark.orchestrate import TaskDag

    lock = threading.Lock()
    finished: set[str] = set()
    early: list[str] = []

    def job(name, parents):
        def fn(s):
            with lock:
                if not set(parents) <= finished:
                    early.append(name)
            time.sleep(0.002)
            with lock:
                finished.add(name)
            return 1

        return fn

    dag = TaskDag(spark, str(tmp_path / "history"))
    mids = [f"mid{i}" for i in range(16)]
    joins = [f"join{j}" for j in range(4)]
    dag.add("root", job("root", []))
    for m in mids:
        dag.add(m, job(m, ["root"]), after=["root"])
    for j, name in enumerate(joins):
        parents = mids[j * 4 : j * 4 + 4]
        dag.add(name, job(name, parents), after=parents)
    dag.add("final", job("final", joins), after=joins)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        status = dag.run("wide")
    finally:
        sys.setswitchinterval(interval)
    assert early == []
    assert status == {n: "SUCCEEDED" for n in dag.tasks}
    rows = dag.history().collect()
    assert sorted(r.task_name for r in rows) == sorted(dag.tasks)


def test_dag_failed_branch_spares_independent_branch(spark, tmp_path):
    """A failure stops only its own descendants; the other branch runs on,
    and every task, run or not, gets exactly one audit row."""
    from etl_school_spark.orchestrate import TaskDag

    ran = []

    def ok(name):
        def fn(s):
            ran.append(name)
            return 1

        return fn

    def boom(s):
        raise RuntimeError("deliberate")

    dag = TaskDag(spark, str(tmp_path / "history"))
    dag.add("root", ok("root"))
    dag.add("bad", boom, after=["root"])
    dag.add("bad_child", ok("bad_child"), after=["bad"])
    dag.add("bad_grandchild", ok("bad_grandchild"), after=["bad_child"])
    dag.add("good", ok("good"), after=["root"])
    dag.add("good_child", ok("good_child"), after=["good"])
    dag.add("fan_in", ok("fan_in"), after=["good_child", "bad"])

    status = dag.run("r3")
    assert status == {
        "root": "SUCCEEDED",
        "bad": "FAILED",
        "bad_child": "UPSTREAM_FAILED",
        "bad_grandchild": "UPSTREAM_FAILED",
        "good": "SUCCEEDED",
        "good_child": "SUCCEEDED",
        "fan_in": "UPSTREAM_FAILED",
    }
    assert sorted(ran) == ["good", "good_child", "root"]
    rows = dag.history().collect()
    assert sorted((r.task_name, r.state) for r in rows) == sorted(status.items())
    assert all(r.run_id == "r3" for r in rows)
    assert "deliberate" in next(r.error for r in rows if r.task_name == "bad")


def test_dag_tasks_inherit_callers_job_group(spark, tmp_path):
    """Task threads inherit the caller's job group, so counting the jobs
    around ``run`` still sees the jobs the tasks ran."""
    from etl_school_spark.orchestrate import TaskDag
    from tests.jobcount import count_jobs

    def one_job(s):
        s.range(5).collect()
        return 1

    def jobs_of(fn, run_id):
        dag = TaskDag(spark, str(tmp_path / "history"))
        dag.add("left", fn)
        dag.add("right", fn)
        with count_jobs(spark) as jobs:
            assert set(dag.run(run_id).values()) == {"SUCCEEDED"}
        return jobs.n

    # the difference leaves out the audit write's own jobs
    assert jobs_of(one_job, "busy") - jobs_of(lambda s: 1, "idle") == 2
