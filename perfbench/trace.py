"""Spans and Spark engine counters, collected from outside the program.

A span wraps one call into a layer. It tags every Spark job started inside it
with its own job group, and on exit reads the in-process status store (the
web UI stays off, no REST): job ids from ``statusTracker().getJobIdsForGroup``,
per-stage task counters from ``AppStatusStore.lastStageAttempt``, and SQL
plan metrics (Python worker bytes, scan and write counts) from the SQL status
store of every execution that ran one of those jobs. The status store is fed
by an asynchronous listener bus, so each read first waits for the bus to
drain. Spans stay in memory and are written once, at exit.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_NUM = re.compile(r"([-0-9.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Numeric total of a SQL count or size metric as the status store
    formats it, e.g. ``'1,024'``, ``'12.5 MiB'`` or the multi-line
    ``'total (min, med, max ...)\\n12.5 MiB (...)'``. Sizes come back in
    bytes and keep the store's 3-4 significant digits."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE.get(m.group(2), 1)


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


@dataclass
class PlanMetric:
    node: str
    desc: str
    name: str
    value: float


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    pass_id: int | None
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)
    plan: list[PlanMetric] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    def plan_sum(self, metric: str, node: str | None = None, desc_has: str | None = None) -> float:
        return sum(
            m.value
            for m in self.plan
            if m.name == metric
            and (node is None or m.node.startswith(node))
            and (desc_has is None or desc_has in m.desc)
        )


class Tracer:
    """Records spans; ``enabled=False`` makes :meth:`span` a plain timer with
    no job groups and no status-store reads (the untraced passes)."""

    def __init__(self, spark, cores: int, enabled: bool):
        self.spark = spark
        self.cores = cores
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str, pass_id: int | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            name,
            self._next_id,
            parent.span_id if parent else None,
            pass_id if pass_id is not None else (parent.pass_id if parent else None),
            time.perf_counter(),
        )
        self._next_id += 1
        sc = self.spark.sparkContext
        if self.enabled:
            sc.setJobGroup(self._group(s), name)
            sql_before = self._sql_store().executionsCount()
        self._stack.append(s)
        try:
            yield s
        finally:
            # the span ends before its counters are read: collection cost
            # lands in the parent's wall time, where the overhead is reported
            s.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                self._collect(s, sql_before)
                if parent is not None:
                    sc.setJobGroup(self._group(parent), parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(s)

    @staticmethod
    def _group(s: Span) -> str:
        return f"perfbench-span-{s.span_id}"

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _collect(self, s: Span, sql_before: int) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        tracker = sc.statusTracker()
        job_ids = set(tracker.getJobIdsForGroup(self._group(s)))
        store = jsc.statusStore()
        c = dict.fromkeys(
            (
                "task_cpu_s", "task_run_s", "gc_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "shuffle_write_records", "spill_bytes",
                "input_bytes", "input_rows", "stages", "tasks",
            ),
            0.0,
        )
        c["jobs"] = float(len(job_ids))
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for stage_id in info.stageIds if info else []:
                st = store.lastStageAttempt(stage_id)
                if st.status().toString() != "COMPLETE":
                    continue  # skipped stages reuse an earlier shuffle
                c["stages"] += 1
                c["tasks"] += st.numCompleteTasks()
                c["task_cpu_s"] += st.executorCpuTime() / 1e9
                c["task_run_s"] += st.executorRunTime() / 1e3
                c["gc_s"] += st.jvmGcTime() / 1e3
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["shuffle_write_records"] += st.shuffleWriteRecords()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                c["input_bytes"] += st.inputBytes()
                c["input_rows"] += st.inputRecords()
        s.counters.update(c)
        sql = self._sql_store()
        n_new = sql.executionsCount() - sql_before
        if n_new <= 0 or not job_ids:
            return
        for e in _scala_iter(sql.executionsList(max(0, sql_before - 4), n_new + 8)):
            if not job_ids & {int(k) for k in _scala_iter(e.jobs().keys())}:
                continue
            values = sql.executionMetrics(e.executionId())
            for node in _scala_iter(sql.planGraph(e.executionId()).allNodes()):
                for m in _scala_iter(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        s.plan.append(PlanMetric(node.name(), node.desc(), m.name(), parse_metric(v.get())))

    def finish(self, s: Span) -> dict:
        """Generic counters of one span, with self time and utilisation."""
        children = sum(x.wall_s for x in self.spans if x.parent == s.span_id)
        c = s.counters
        wall = s.wall_s
        return {
            "wall_s": wall,
            "self_s": wall - children,
            "task_cpu_s": c.get("task_cpu_s", 0.0),
            "task_run_s": c.get("task_run_s", 0.0),
            "gc_s": c.get("gc_s", 0.0),
            "util": c.get("task_run_s", 0.0) / (wall * self.cores) if wall > 0 else 0.0,
            "shuffle_read_bytes": c.get("shuffle_read_bytes", 0.0),
            "shuffle_write_bytes": c.get("shuffle_write_bytes", 0.0),
            "spill_bytes": c.get("spill_bytes", 0.0),
            "jobs": c.get("jobs", 0.0),
            "stages": c.get("stages", 0.0),
            "tasks": c.get("tasks", 0.0),
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "name": s.name,
                        "id": s.span_id,
                        "parent": s.parent,
                        "pass": s.pass_id,
                        "start": s.start,
                        "end": s.end,
                        "counters": s.counters,
                    }
                    for s in sorted(self.spans, key=lambda x: x.span_id)
                ],
                f,
                indent=1,
            )
