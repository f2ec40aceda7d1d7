"""Traced mode: spans around the calls into each layer, plus Spark's own
job, stage and planning statistics.

Nothing here is compiled into the program. ``Tracer.wrap`` replaces a
layer's entry point in the module namespace where its caller looks it up
(for example ``filesql_spark.engine.load_file``) and ``Tracer.unwrap_all``
puts the originals back. Spans live in memory and are written out once, at
exit, by ``Tracer.dump``.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    jobs: int = 0


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []
        self.op: str | None = None
        self.enabled = False  # spans are recorded only inside traced ops
        self._group: str | None = None

    # ---------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        jobs_before = self._job_count()
        s = Span(name, time.perf_counter(), 0.0, parent, self.op)
        self.spans.append(s)
        self._stack.append(idx)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()
            s.jobs = self._job_count() - jobs_before

    def _job_count(self) -> int:
        if self._group is None:
            return 0
        return len(self.sc.statusTracker().getJobIdsForGroup(self._group))

    def wrap(self, module_name: str, attr: str, span_name: str, suffix=None) -> None:
        """Time every call to ``module.attr`` as a span named
        ``span_name`` (plus ``"." + suffix(*args)`` when given). A call
        made from inside a span of the same name (recursion, or one
        wrapped alias calling another) is not counted twice."""
        module = importlib.import_module(module_name)
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if not self.enabled or (
                self._stack and self.spans[self._stack[-1]].name.startswith(span_name)
            ):
                return original(*args, **kwargs)
            name = f"{span_name}.{suffix(*args)}" if suffix else span_name
            with self.span(name):
                return original(*args, **kwargs)

        self._saved.append((module, attr, original))
        setattr(module, attr, traced)

    def unwrap_all(self) -> None:
        for module, attr, original in reversed(self._saved):
            setattr(module, attr, original)
        self._saved.clear()

    # ---------------------------------------------------- job groups
    @contextmanager
    def job_group(self, group: str):
        """Tag the Spark jobs fired inside the block with ``group``."""
        prev = self._group
        self._group = group
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self._group = prev
            if prev is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(prev, prev)

    def spans_named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "op": s.op, "jobs": s.jobs,
                }) + "\n")


class SparkStats:
    """Jobs, stages and tasks of a job group, read from Spark's status
    store once its listener bus has drained."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._jvm = spark._jvm
        self._gw = self.sc._gateway

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def group(self, group: str) -> dict[str, float]:
        """Totals over every job tagged ``group``."""
        store = self._jsc.statusStore()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0, "input_records": 0}
        empty = self._jvm.java.util.ArrayList()
        no_q = self._gw.new_array(self._jvm.double, 0)
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            stage_ids = store.job(job_id).stageIds()
            for i in range(stage_ids.size()):
                attempts = store.stageData(stage_ids.apply(i), False, empty, False, no_q)
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    if str(st.status()) == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += st.numTasks()
                    out["failed_tasks"] += st.numFailedTasks()
                    out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    out["input_records"] += st.inputRecords()
        return out

    @staticmethod
    def phases(df) -> dict[str, float]:
        """Catalyst phase times (ms) of the query behind ``df``."""
        tracker = df._jdf.queryExecution().tracker().phases()
        out = {}
        for phase in ("analysis", "optimization", "planning"):
            opt = tracker.get(phase)
            out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        return out

    def cached_bytes(self) -> int:
        return sum(i.memSize() + i.diskSize() for i in self._jsc.getRDDStorageInfo())

    def jvm_committed_mb(self) -> float:
        mx = self._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used = mx.getHeapMemoryUsage().getCommitted() + mx.getNonHeapMemoryUsage().getCommitted()
        return used / 2**20
