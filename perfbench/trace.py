"""Spans around the pipeline's layer calls, with Spark work attributed per span.

A span records name, start, end and parent. Entering a span sets a Spark
job group named after the span id, so every job the call launches is
tagged; leaving it restores the parent's group. After the run, job groups
are joined to job and stage records from Spark's status store, and SQL
executions to their plan-node metrics. Spans stay in memory until the run
ends and are then written out once.
"""

from __future__ import annotations

import contextlib
import re
import time

_GROUP = "perfbench-span-"


class Tracer:
    """``span(name)`` is a no-op context manager when tracing is off."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        sid = self._next
        self._next += 1
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None}
        rec.update(attrs)
        sc.setJobGroup(f"{_GROUP}{sid}", name)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(f"{_GROUP}{self._stack[-1]}", "")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)

    def wrap(self, obj, attr: str, name: str) -> None:
        """Replace ``obj.attr`` with a version that runs inside ``span(name)``."""
        if not self.enabled:
            return
        fn = getattr(obj, attr)

        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(obj, attr, traced)

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def descendants(self, sid: int) -> list[dict]:
        out, todo = [], [sid]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += [k["id"] for k in kids]
        return out


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus its children's. Spans nest on one thread, so the
    children of a span never overlap."""
    return (span["end"] - span["start"]) - sum(c["end"] - c["start"] for c in children)


class SparkRecords:
    """Job, stage and SQL-execution records read from the status stores."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self.sc = sc
        self.jvm = sc._jvm
        self.store = sc._jsc.sc().statusStore()
        self.tracker = sc.statusTracker()
        self._stages = self._all_stages()

    def _all_stages(self) -> dict[int, dict]:
        empty = self.jvm.java.util.ArrayList()
        quants = self.sc._gateway.new_array(self.jvm.double, 0)
        lst = self.store.stageList(empty, False, False, quants, empty)
        out = {}
        for i in range(lst.size()):
            s = lst.apply(i)
            if s.numCompleteTasks() <= 0:
                continue
            out[int(s.stageId())] = {
                "attempt": int(s.attemptId()),
                "tasks": int(s.numCompleteTasks()),
                "run_ms": float(s.executorRunTime()),
                "cpu_ns": float(s.executorCpuTime()),
                "gc_ms": float(s.jvmGcTime()),
                "input_bytes": float(s.inputBytes()),
                "shuffle_read_bytes": float(s.shuffleReadBytes()),
                "shuffle_write_bytes": float(s.shuffleWriteBytes()),
                "spill_bytes": float(s.memoryBytesSpilled()) + float(s.diskBytesSpilled()),
            }
        return out

    def jobs_for(self, span_id: int) -> list[int]:
        return [int(j) for j in self.tracker.getJobIdsForGroup(f"{_GROUP}{span_id}")]

    def job_wall_s(self, job_id: int) -> float:
        jd = self.store.job(job_id)
        sub, done = jd.submissionTime(), jd.completionTime()
        if not sub.isDefined() or not done.isDefined():
            return 0.0
        return (done.get().getTime() - sub.get().getTime()) / 1000.0

    def stages_for(self, job_ids: list[int]) -> dict[int, dict]:
        out = {}
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in self._stages:
                    out[sid] = self._stages[sid]
        return out

    def task_skew(self, stage_id: int, stage: dict) -> float:
        """max / median task duration of one stage."""
        quants = self.sc._gateway.new_array(self.jvm.double, 2)
        quants[0], quants[1] = 0.5, 1.0
        opt = self.store.taskSummary(stage_id, stage["attempt"], quants)
        if not opt.isDefined():
            return 0.0
        d = opt.get().duration()
        med, mx = float(d.apply(0)), float(d.apply(1))
        return mx / med if med > 0 else 0.0

    def python_node_metrics(self, job_ids: list[int]) -> dict[str, float]:
        """Rows and bytes across the Python-evaluation plan nodes of every
        SQL execution that ran one of ``job_ids``."""
        want = set(job_ids)
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        out = {"rows": 0.0, "bytes_to_python": 0.0, "bytes_from_python": 0.0}
        for i in range(execs.size()):
            ex = execs.apply(i)
            jobs = ex.jobs().keySet()
            it = jobs.iterator()
            hit = False
            while it.hasNext():
                if int(it.next()) in want:
                    hit = True
                    break
            if not hit:
                continue
            values = sql.executionMetrics(ex.executionId())
            nodes = sql.planGraph(ex.executionId()).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not re.search(r"Python|Pandas|Arrow", node.name()):
                    continue
                ms = node.metrics()
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    key = _PY_METRICS.get(metric.name())
                    if key is None:
                        continue
                    v = values.get(metric.accumulatorId())
                    if v.isDefined():
                        out[key] += parse_metric(str(v.get()))
        return out


# SQL metrics of Spark's Python-evaluation plan nodes
_PY_METRICS = {
    "number of output rows": "rows",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}
_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: a plain count ("1,234") or the
    first figure of a size summary ("total (min, med, max ...)\\n1.5 KiB ...")."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"([\d.,]+)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    return val * _UNITS.get(m.group(2) or "B", 1)
