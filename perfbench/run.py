"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One run starts a ``local[nproc]`` Spark
session, generates the workload's inputs from ``--seed`` and warms up
(together: ``setup_s``), then runs operations in a closed loop (one client,
the next operation starts when the previous one ends) for ``--seconds``,
checks every output, and prints one JSON line as the last line of stdout.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (see perfbench/README.md). Exits non-zero when an
operation fails or an output check does not hold.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dashboard", "ingest", "corpus")

E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "rows_per_s": "rows/s",
}

PER_LAYER_UNITS = {
    "engine.jobs_per_op": "count",
    "engine.stages_per_op": "count",
    "engine.tasks_per_op": "count",
    "engine.failed_tasks": "count",
    "engine.shuffle_write_bytes": "B",
    "engine.shuffle_read_bytes": "B",
    "app.filter_options_ms": "ms",
    "app.metrics_ms": "ms",
    "app.top_breakdown_1_ms": "ms",
    "app.top_breakdown_2_ms": "ms",
    "app.preview_ms": "ms",
    "app.export_ms": "ms",
    "app.construct_ms": "ms",
    "app.action_ms": "ms",
    "app.first_ms": "ms",
    "app.repeat_ms": "ms",
    "sources.copy_into_s": "s",
    "sources.merge_upsert_s": "s",
    "sources.compact_s": "s",
    "sources.rows_rejected": "count",
    "sources.write_amplification": "ratio",
    "streaming.publish_ms": "ms",
    "streaming.drain_s": "s",
    "streaming.trigger_ms": "ms",
    "streaming.rows_per_trigger": "count",
    "quality.run_dq_s": "s",
    "quality.alerts_s": "s",
    "orchestrate.dag_overhead_s": "s",
    "pipeline.construct_s": "s",
    "pipeline.write_s": "s",
    "functions.filter_corpus_s": "s",
    "privacy.scrub_corpus_s": "s",
    "dedup.exact_s": "s",
    "dedup.near_s": "s",
    "functions.reshard_pack_s": "s",
    "similarity.semantic_dedup_s": "s",
    "dedup.pairs": "count",
    "dedup.injected_removed_ratio": "ratio",
    "workload.ann_topk_cosine_s": "s",
    "workload.ann_topk_cosine_construct_s": "s",
    "workload.embedding_neardup_pairs_s": "s",
    "workload.embedding_neardup_pairs_construct_s": "s",
    "workload.text_quality_scores_s": "s",
    "workload.text_quality_scores_construct_s": "s",
    "workload.per_user_event_profile_s": "s",
    "workload.per_user_event_profile_construct_s": "s",
    "workload.event_window_suite_s": "s",
    "workload.event_window_suite_construct_s": "s",
    "workload.fuzzy_name_matches_s": "s",
    "workload.fuzzy_name_matches_construct_s": "s",
    "workload.dedup_exact_groups_s": "s",
    "workload.dedup_exact_groups_construct_s": "s",
    "trace.overhead_ms": "ms",
}


class Context:
    """What a workload gets: the session, the span recorder, its temp root
    and the seed."""

    def __init__(self, spark, rec, tmp: str, seed: int):
        self.spark, self.rec, self.tmp, self.seed = spark, rec, tmp, seed


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(p) for p in fh.read().split()]
    except OSError:
        pass
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split(") ")[-1][0] != "Z"
    except OSError:
        return False


def _stop(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait for
    each to end."""
    gw = spark.sparkContext._gateway
    proc = gw.proc
    workers = _children(proc.pid)
    spark.stop()
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 15
    while any(_alive(p) for p in workers) and time.time() < deadline:
        time.sleep(0.05)


def _quantile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _engine_metrics(rec, ops: list[int]) -> dict:
    per = [rec.op_spans(i) for i in ops]
    n = max(1, len(ops))
    return {
        "engine.jobs_per_op": sum(s.jobs for sp in per for s in sp) / n,
        "engine.stages_per_op": sum(s.stages for sp in per for s in sp) / n,
        "engine.tasks_per_op": sum(s.tasks for sp in per for s in sp) / n,
        "engine.failed_tasks": sum(s.failed_tasks for sp in per for s in sp),
        "engine.shuffle_write_bytes": sum(s.shuffle_write_bytes for sp in per for s in sp) / n,
        "engine.shuffle_read_bytes": sum(s.shuffle_read_bytes for sp in per for s in sp) / n,
    }


def run(args) -> int:
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(tmp, "spark-local"))
    os.environ.update(
        SPARK_GRAFT_CPUS=cpus,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        SPARK_GRAFT_DRIVER_MEM="2g",
        TMPDIR=tmp,
        # Arrow/pandas UDF workers import the engine too; they inherit this
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    sys.path[:0] = [ROOT, HERE]
    spark = None
    try:
        import etl_school_spark  # noqa: F401  (fail fast outside a checkout)
        from etl_school_spark.session import get_spark

        from spans import Recorder

        wl_mod = importlib.import_module(args.workload)
        t_setup = time.perf_counter()
        spark = get_spark(
            f"perfbench-{args.workload}",
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        print(f"perfbench: session {time.perf_counter() - t_setup:.3f} s", file=sys.stderr)
        rec = Recorder(spark, enabled=False)
        ctx = Context(spark, rec, tmp, args.seed)
        wl = wl_mod.Workload(ctx)
        wl.setup()
        setup_s = time.perf_counter() - t_setup
        print(f"perfbench: setup {setup_s:.3f} s", file=sys.stderr)

        lat: dict[int, float] = {}
        rows = failed = 0
        traced: list[int] = []
        # operations run in whole groups of the workload's `unit`, at least
        # its `min_ops` of them and for at least --seconds. Traced runs
        # alternate untraced and traced groups and start and end on an
        # untraced one (at least untraced, traced, untraced), so a drift of
        # latency through the run, such as the JIT still warming up, cancels
        # out of the difference of their medians, which is the tracing
        # overhead
        unit = getattr(wl, "unit", 1)
        min_ops = max(getattr(wl, "min_ops", unit), unit * 3 if args.trace else 0)
        t_end = time.perf_counter() + args.seconds

        def more(i: int) -> bool:
            if i < min_ops or time.perf_counter() < t_end or i % unit:
                return True
            return bool(args.trace) and (i // unit) % 2 == 0

        i = 0
        while more(i):
            rec.enabled = bool(args.trace) and (i // unit) % 2 == 1
            rec.op = i
            if hasattr(wl, "prepare"):  # untimed: inputs for the next operation
                wl.prepare(i)
            t0 = time.perf_counter()
            try:
                rows += wl.op(i)
                lat[i] = time.perf_counter() - t0
            except Exception:
                traceback.print_exc(file=sys.stderr)
                failed += 1
                lat[i] = math.inf  # a failed operation misses every latency limit
            if rec.enabled:
                rec.resolve_engine_counts(i)
                traced.append(i)
            print(f"perfbench: op {i}{' traced' if rec.enabled else ''} {lat[i]:.3f} s", file=sys.stderr)
            i += 1
        rec.enabled = bool(args.trace)
        rec.op = None
        attempted = i
        problems = []
        if args.trace and hasattr(wl, "after_traced_loop"):
            try:
                wl.after_traced_loop()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                problems.append("the traced run's extra measurements raised")
        # high-water marks as the workload left them, before the checks
        # (DuckDB, pandas) grow the driver
        jvm_mb = _vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
        driver_mb = _vm_hwm_mb("self")

        problems += wl.check()
        for p in problems:
            print(f"check failed: {p}", file=sys.stderr)
        ok_lat = [v for v in lat.values() if math.isfinite(v)]
        vals = list(lat.values())
        if args.trace:
            metrics = {k: 0.0 for k in PER_LAYER_UNITS}
            metrics.update(_engine_metrics(rec, traced))
            metrics.update(wl.layer_metrics(rec, traced, lat))
            plain = [lat[j] for j in lat if j not in traced and math.isfinite(lat[j])]
            t_lat = [lat[j] for j in traced if math.isfinite(lat[j])]
            if plain and t_lat:
                metrics["trace.overhead_ms"] = (median(t_lat) - median(plain)) * 1000
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            rec.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
            units = PER_LAYER_UNITS
        else:
            metrics = {
                "setup_s": setup_s,
                "peak_rss_mb": jvm_mb + driver_mb,
                "op_p50_ms": _quantile(vals, 0.5) * 1000,
                "op_p90_ms": _quantile(vals, 0.9) * 1000,
                "rows_per_s": rows / sum(ok_lat) if ok_lat else 0.0,
            }
            units = E2E_UNITS
        correct = not problems and failed == 0
        print(json.dumps({
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0 if correct else 1
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args())


if __name__ == "__main__":
    sys.exit(main())
