"""In-memory spans and the Spark status-store readers behind the per-layer
metrics.

A span records name, start, end and parent. While a span is open, Spark
jobs carry its job group, so the status store attributes jobs, stages and
SQL executions to it. Spans are only opened by the benchmark around calls
into the program; nothing inside ``bpspark`` is instrumented.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager

MB = 1024 * 1024
JOIN_RE = re.compile(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                     r"BroadcastNestedLoopJoin|CartesianProduct)")


class Tracer:
    """Span recorder. With ``enabled`` false every span is a no-op, so the
    untraced runs execute the same calls with no per-call bookkeeping."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None  # set once the SparkContext exists
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent,
               "group": f"perfbench-{os.getpid()}-{sid}", **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(self.spans[parent]["group"], self.spans[parent]["name"])

    def subtree(self, root: dict) -> list[dict]:
        """``root`` and every span opened inside it."""
        ids, out = {root["id"]}, [root]
        for s in self.spans[root["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out


def _seq(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt(o):
    return o.get() if o.isDefined() else None


def _metric_number(text: str) -> float:
    """First number of a SQL metric string such as ``"1,234"`` or
    ``"total (min, med, max)\\n12 (1, 2, 3)"``."""
    m = re.search(r"-?[0-9][0-9,]*(?:\.[0-9]+)?", text or "")
    return float(m.group(0).replace(",", "")) if m else 0.0


class StatusReader:
    """Reads job, stage and SQL-execution records of given job groups from
    the SparkContext's status stores (populated with the UI off)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def settle(self) -> None:
        """Wait until the listener bus has applied every event so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs_by_group(self) -> dict[str, list]:
        out: dict[str, list] = {}
        for j in _seq(self._jsc.statusStore().jobsList(None)):
            g = _opt(j.jobGroup())
            if g is not None:
                out.setdefault(g, []).append(j)
        return out

    def stage_totals(self, jobs: list) -> dict[str, float]:
        """Counts and times over the completed stages of ``jobs``."""
        store = self._jsc.statusStore()
        gw = self.sc._gateway
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        stage_ids = sorted({int(s) for j in jobs for s in _seq(j.stageIds())})
        t = {"jobs": len(jobs), "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
             "gc_s": 0.0, "spill_mb": 0.0, "shuffle_read_mb": 0.0,
             "shuffle_write_mb": 0.0, "scan_mb": 0.0, "task_skew": 1.0}
        for sid in stage_ids:
            s = store.lastStageAttempt(sid)
            if s.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            t["stages"] += 1
            t["tasks"] += s.numCompleteTasks()
            t["run_s"] += s.executorRunTime() / 1e3
            t["cpu_s"] += s.executorCpuTime() / 1e9
            t["gc_s"] += s.jvmGcTime() / 1e3
            t["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
            t["shuffle_read_mb"] += s.shuffleReadBytes() / MB
            t["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
            t["scan_mb"] += s.inputBytes() / MB
            summary = _opt(store.taskSummary(sid, s.attemptId(), quantiles))
            if summary is not None and s.numCompleteTasks() > 1:
                med, mx = summary.executorRunTime().apply(0), summary.executorRunTime().apply(1)
                t["task_skew"] = max(t["task_skew"], mx / med if med > 0 else 1.0)
        t["wait_s"] = t["run_s"] - t["cpu_s"]
        return t

    def annotate(self, spans: list[dict], jobs: dict[str, list]) -> None:
        """Attach to each span the stage totals of the jobs run under its
        own job group (children's jobs excluded)."""
        for s in spans:
            own = jobs.get(s["group"])
            if own:
                s["spark"] = self.stage_totals(own)

    def sql_plans(self, job_ids: set[int]) -> list[dict]:
        """Final plan-graph summary of every SQL execution that ran one of
        ``job_ids``: node-name counts and rows out per node name."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        plans = []
        for e in _seq(store.executionsList()):
            jobs = {int(k) for k in _seq(e.jobs().keys())}
            if not jobs & job_ids:
                continue
            eid = e.executionId()
            values = {int(kv._1()): kv._2() for kv in _seq(store.executionMetrics(eid))}
            nodes: dict[str, int] = {}
            rows: dict[str, float] = {}
            for n in _seq(store.planGraph(eid).allNodes()):
                name = n.name()
                nodes[name] = nodes.get(name, 0) + 1
                for m in _seq(n.metrics()):
                    if m.name() == "number of output rows":
                        rows[name] = rows.get(name, 0.0) + _metric_number(values.get(m.accumulatorId()))
            plans.append({"execution": eid, "nodes": nodes, "rows": rows})
        return plans


def plan_shape(plans: list[dict]) -> dict:
    """Join strategies and shuffle Exchange count over executed plans."""
    joins: dict[str, int] = {}
    exchanges = 0
    for p in plans:
        for name, k in p["nodes"].items():
            m = JOIN_RE.search(name)
            if m:
                joins[m.group(1)] = joins.get(m.group(1), 0) + k
            if name == "Exchange":
                exchanges += k
    return {"joins": joins, "exchanges": exchanges}


def rows_out(plans: list[dict], node: str) -> float:
    return sum(v for p in plans for n, v in p["rows"].items() if n.startswith(node))

