"""In-memory span recorder for the traced run.

A span wraps one public call into a layer of the engine: its name is
``<layer>.<call>``, and it records start, end, its parent span and the
operation (request) it belongs to. Each span runs its Spark jobs under its
own job group, so after the operation the recorder can read job, stage and
task counts and shuffle bytes for it from the status store. Spans stay in
memory and are written out once, when the run ends.

With tracing off, ``span`` is a no-op context manager and nothing touches
the SparkContext.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    group: str = ""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Recorder:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, 0.0, parent=parent.id if parent else None,
                 op=self.op, group=f"perfbench-{len(self.spans)}", attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def resolve_engine_counts(self, op: int | None = None) -> None:
        """Fill job/stage/task counts and shuffle bytes for the spans of
        ``op`` (all spans when None). Call after the operation's timer has
        stopped: it drains the listener bus so the status store is final."""
        if not self.enabled:
            return
        from py4j.protocol import Py4JJavaError

        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        for s in self.spans:
            if op is not None and s.op != op:
                continue
            for jid in tracker.getJobIdsForGroup(s.group):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                s.jobs += 1
                for sid in info.stageIds:
                    st = tracker.getStageInfo(sid)
                    if st is None:
                        continue
                    s.stages += 1
                    s.tasks += st.numCompletedTasks
                    s.failed_tasks += st.numFailedTasks
                    try:
                        data = store.stageAttempt(sid, st.currentAttemptId, False, None, False, None)._1()
                        s.shuffle_write_bytes += int(data.shuffleWriteBytes())
                        s.shuffle_read_bytes += int(data.shuffleReadBytes())
                    except Py4JJavaError:  # stage evicted from the store: counts only
                        pass

    # -- derived -------------------------------------------------------------
    def self_time(self, s: Span) -> float:
        """Duration minus the part of it covered by child spans (children
        run sequentially on this thread, so they never overlap)."""
        return s.dur - sum(c.dur for c in self.spans if c.parent == s.id)

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
