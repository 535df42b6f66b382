"""Count the Spark jobs a block of code runs.

    with count_jobs(spark) as jobs:
        df.collect()
    assert jobs.n == 1

The block runs under its own job group; on exit the listener bus is drained
and the group's jobs are read from ``statusTracker().getJobIdsForGroup``.
Only jobs started on the calling thread count (broadcast builds inherit its
group), and the thread's previous job group is restored.
"""

from __future__ import annotations

import contextlib
import uuid

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class JobCount:
    n: int = 0


@contextlib.contextmanager
def count_jobs(spark):
    sc = spark.sparkContext
    saved = {k: sc.getLocalProperty(k) for k in _GROUP_PROPS}
    group = f"count-jobs-{uuid.uuid4().hex}"
    out = JobCount()
    sc.setJobGroup(group, "count_jobs")
    try:
        yield out
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        out.n = len(sc.statusTracker().getJobIdsForGroup(group))
