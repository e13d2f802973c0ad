"""Spans and Spark status-store counters.

A ``Tracer`` keeps spans in memory (name, layer, parent, start, end) and
gives each span its own Spark job group, so every job lands on the
innermost span that was open when it ran. While ``active`` is false
``span`` is a no-op and sets no job group.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager

PYTHON_NODES = re.compile(
    r"^(ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|FlatMapGroupsInArrow|"
    r"FlatMapCoGroupsInPandas|FlatMapCoGroupsInArrow|MapInPandas|MapInArrow|"
    r"AggregateInPandas|ArrowAggregatePython|WindowInPandas|ArrowWindowPython|"
    r"PythonMapInArrow|BatchEvalPythonUDTF|ArrowEvalPythonUDTF|"
    r"FlatMapGroupsInPandasWithState|TransformWithStateInPandas)")


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _set_group(self) -> None:
        group = self.spans[self._stack[-1]]["group"] if self._stack else None
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.active:
            yield None
            return
        rec = {"id": len(self.spans), "parent": self._stack[-1] if self._stack else None,
               "name": name, "layer": layer, "group": f"perfbench-{os.getpid()}-{len(self.spans)}"}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group()

    def finish(self) -> None:
        """Fill each span's ``self_s`` and ``jobs`` (ids of its own jobs)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        child_s: dict[int, float] = {}
        for s in self.spans:
            s["dur_s"] = s["end"] - s["start"]
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["dur_s"]
            s["jobs"] = sorted(tracker.getJobIdsForGroup(s["group"]))
        for s in self.spans:
            s["self_s"] = s["dur_s"] - child_s.get(s["id"], 0.0)


NODE_PREFIX = re.compile(r"^[\s:|+\-]*(\*(\(\d+\))?\s*)?")


def plan_counts(plan_text: str) -> dict[str, int]:
    """Exchange, join-strategy and Python-boundary node counts of a
    physical plan description (the status store's formatted plan). Only
    the operator tree is read, and of an adaptive plan only its final
    plan, not its initial one."""
    counts = {"exchanges": 0, "joins_smj": 0, "joins_shj": 0, "joins_bhj": 0,
              "python_nodes": 0}
    initial_at = None
    for line in plan_text.split("\n\n")[0].splitlines():
        depth = len(line) - len(line.lstrip(" :|+-"))
        if initial_at is not None and depth >= initial_at:
            continue
        initial_at = None
        node = NODE_PREFIX.sub("", line)
        if node.startswith("== Initial Plan =="):
            initial_at = depth
        elif node.startswith(("Exchange", "ShuffleExchange", "BroadcastExchange")):
            counts["exchanges"] += 1
        elif node.startswith("SortMergeJoin"):
            counts["joins_smj"] += 1
        elif node.startswith("ShuffledHashJoin"):
            counts["joins_shj"] += 1
        elif node.startswith("BroadcastHashJoin"):
            counts["joins_bhj"] += 1
        elif PYTHON_NODES.match(node):
            counts["python_nodes"] += 1
    return counts


def job_counters(spark, job_ids: list[int]) -> dict[str, float]:
    """Sum the status store's stage counters over the stages these jobs
    ran (skipped stages excluded), plus the task-time skew of the slowest
    stage and ``sql_counters`` of their SQL executions."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "task_busy_s": 0.0,
           "gc_s": 0.0, "scan_rows": 0, "scan_bytes": 0, "shuffle_write_bytes": 0,
           "shuffle_records": 0, "spill_bytes": 0, "task_skew": 0.0}
    slowest = None
    seen: set[int] = set()
    for jid in job_ids:
        sids = store.job(jid).stageIds()
        for i in range(sids.size()):
            sid = sids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            sd = store.lastStageAttempt(sid)
            if str(sd.status()) != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["task_busy_s"] += sd.executorRunTime() / 1000.0
            out["gc_s"] += sd.jvmGcTime() / 1000.0
            out["scan_rows"] += sd.inputRecords()
            out["scan_bytes"] += sd.inputBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["shuffle_records"] += sd.shuffleWriteRecords()
            out["spill_bytes"] += sd.diskBytesSpilled()
            if slowest is None or sd.executorRunTime() > slowest.executorRunTime():
                slowest = sd
    if slowest is not None:
        gw = sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summ = store.taskSummary(slowest.stageId(), slowest.attemptId(), q)
        if summ.isDefined():
            run = summ.get().executorRunTime()
            out["task_skew"] = run.apply(1) / max(run.apply(0), 1.0)
    out.update(sql_counters(spark, set(job_ids)))
    return out


def sql_counters(spark, job_ids: set[int]) -> dict[str, int]:
    """Over the SQL executions that ran these jobs: the node counts of
    their final physical plans (adaptive re-planning included) and their
    largest operator output."""
    from enterprise_data_warehouse_spark.plans.metrics import _parse_value

    out = dict.fromkeys(("exchanges", "joins_smj", "joins_shj", "joins_bhj",
                         "python_nodes", "max_output_rows"), 0)
    if not job_ids:
        return out
    jvm = spark.sparkContext._jvm
    sql = spark._jsparkSession.sharedState().statusStore()
    execs = sql.executionsList()
    for i in range(execs.size()):
        e = execs.apply(i)
        jobs = jvm.scala.jdk.javaapi.CollectionConverters.asJava(e.jobs())
        if not any(int(j) in job_ids for j in jobs.keySet()):
            continue
        for k, v in plan_counts(str(e.physicalPlanDescription())).items():
            out[k] += v
        values = sql.executionMetrics(e.executionId())
        it = e.metrics().iterator()
        while it.hasNext():
            m = it.next()
            if str(m.name()) == "number of output rows" and values.contains(m.accumulatorId()):
                rows = _parse_value(str(values.apply(m.accumulatorId())))
                out["max_output_rows"] = max(out["max_output_rows"], int(rows or 0))
    return out
