"""In-memory spans and per-op Spark counters for the traced run.

A span has a name, start, end, parent span and op id.  Op spans are named
``<workload>.<op>``; their children are named ``<layer>.<call>`` for each
public call into the package and ``spark.<action>`` for each action.  A
disabled tracer records nothing and costs one generator per span.

Spark counters come from the status store, which Spark keeps with the UI
off: every op runs in its own job group, and after the op the stages of
the group's jobs are summed.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op: str | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        # reserve the slot now so ids follow start order
        self.spans.append(Span(sid, name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid].end = time.perf_counter()

    def self_seconds(self) -> dict[int, float]:
        """Each span's duration minus the time its children cover (children
        of one span never overlap: the benchmark is single-threaded)."""
        own = {s.id: s.seconds for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                own[s.parent] -= s.seconds
        return own

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# counter -> unit
SPARK_COUNTERS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_ms": "ms",
    "python_stage_run_ms": "ms",
    "shuffle_write_bytes": "bytes",
    "shuffle_write_records": "count",
    "failed_tasks": "count",
}


class SparkCounters:
    """Sums the status-store counters of one job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self, group: str, timeout_s: float = 5.0) -> dict[str, float]:
        """Counters of *group*'s jobs, once the listener has recorded them
        all as finished (it runs behind the action that started them)."""
        self.sc._jsc.clearJobGroup()
        tracker = self.sc.statusTracker()
        deadline = time.perf_counter() + timeout_s
        while True:
            jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
            if all(j is not None and j.status != "RUNNING" for j in jobs):
                stages = self._stages(sorted({s for j in jobs for s in j.stageIds}))
                if stages is not None or time.perf_counter() > deadline:
                    break
            elif time.perf_counter() > deadline:
                stages = None
                break
            time.sleep(0.01)
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        out["jobs"] = float(len(jobs))
        for st in stages or []:
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_ms"] += st.executorRunTime()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_write_records"] += st.shuffleWriteRecords()
            out["failed_tasks"] += st.numFailedTasks()
            if self._runs_python(st.stageId()):
                out["python_stage_run_ms"] += st.executorRunTime()
        return out

    def _stages(self, ids):
        """Stage data of the stages that ran, or None while one is still
        open in the store.  Skipped stages (shuffle reuse) are left out."""
        out = []
        for sid in ids:
            try:
                st = self.store.lastStageAttempt(sid)
            except Py4JJavaError:
                return None
            status = st.status().toString()
            if status in ("ACTIVE", "PENDING"):
                return None
            if status != "SKIPPED":
                out.append(st)
        return out

    def _runs_python(self, stage_id: int) -> bool:
        """A stage runs Python workers when its operator graph holds a
        Python plan node (MapInPandas, FlatMapGroupsInPandas,
        ArrowEvalPython, ...)."""
        todo = [self.store.operationGraphForStage(stage_id).rootCluster()]
        while todo:
            cluster = todo.pop()
            if any(k in cluster.name() for k in ("Python", "Pandas", "Arrow")):
                return True
            it = cluster.childClusters().iterator()
            while it.hasNext():
                todo.append(it.next())
        return False
