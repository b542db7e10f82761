"""Spans and Spark readings for the traced run (``--trace 1``).

Spans live in memory (name, start, end, parent, op id) and are written as
one JSON file when the run ends.  Nothing here changes what Spark runs: the
readings are a job group per operation (read back through the status
tracker and the status store, which Spark keeps with the UI off), the
process-wide Catalyst rule time and janino compile time before and after the
op, the QueryPlanningTracker phases of the returned DataFrame, and the SQL
metrics of its executed plan.

With tracing off, ``NullTracer`` keeps the same call sites and does nothing.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        yield

    def begin_op(self, spark, op_id: int, kind: str) -> None:
        pass

    def end_op(self, spark, op_id: int, df, n_out: int) -> dict:
        return {}


class Tracer:
    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._before: dict = {}
        self.overhead_s: dict[int, float] = {}

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "op": op_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    # -- per-op Spark readings ------------------------------------------------
    def begin_op(self, spark, op_id: int, kind: str) -> None:
        t0 = time.perf_counter()
        sc = spark.sparkContext
        sc.setJobGroup(f"bench-{op_id}", f"perfbench {kind} op {op_id}", False)
        self._before = jvm_counters(spark)
        self.overhead_s[op_id] = time.perf_counter() - t0

    def end_op(self, spark, op_id: int, df, n_out: int) -> dict:
        """Readings for the op just finished; call after its exec span."""
        t0 = time.perf_counter()
        after = jvm_counters(spark)
        out = {k: after[k] - self._before[k] for k in after}
        out.update(_stage_totals(spark, f"bench-{op_id}"))
        out.update(_tracker_phases(df))
        out["python_ms"] = _python_ms(df)
        out["n_out"] = n_out
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        spark.sparkContext.setLocalProperty("spark.job.description", None)
        self.overhead_s[op_id] += time.perf_counter() - t0
        return out

    # -- output ---------------------------------------------------------------
    def children_cover(self, op_span: dict) -> float:
        """Share of an op span's wall covered by its child spans."""
        idx = self.spans.index(op_span)
        kids = [s for s in self.spans if s["parent"] == idx]
        wall = op_span["end"] - op_span["start"]
        return sum(s["end"] - s["start"] for s in kids) / wall if wall > 0 else 1.0

    def write(self, path: str) -> None:
        """Spans as JSON, times in seconds from the first span, each with its
        self time: its duration minus what its child spans cover."""
        kids = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]] += s["end"] - s["start"]
        t0 = self.spans[0]["start"] if self.spans else 0.0
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([{**s, "start": s["start"] - t0, "end": s["end"] - t0,
                        "self": s["end"] - s["start"] - k}
                       for s, k in zip(self.spans, kids)], f)


def jvm_counters(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        # Catalyst analyzer + optimizer rule time, JVM-wide (ns)
        "rules_ns": jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor
        .getCurrentMetrics().time(),
        # janino compile time, JVM-wide (ns)
        "compile_ns": jvm.org.apache.spark.sql.catalyst.expressions.codegen
        .CodeGenerator.compileTime(),
    }


def _stage_totals(spark, group: str) -> dict:
    """Totals over the stages of the jobs in one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(int(s) for s in info.stageIds)
    return {"jobs": len(jobs), **_sum_stages(spark, stages)}


def max_job_id(spark) -> int:
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)


def jobs_since(spark, after: int) -> dict:
    """Totals over every job started after job id ``after``, whichever
    thread submitted it (the build writes tables from several threads)."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    stages: set[int] = set()
    n = 0
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() > after:
            n += 1
            sids = j.stageIds()
            stages.update(int(sids.apply(k)) for k in range(sids.size()))
    return {"jobs": n, **_sum_stages(spark, stages)}


def _sum_stages(spark, stages) -> dict:
    """Tasks, executor run/CPU time, input rows and shuffle bytes summed
    over the stages' last attempts, from the status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    tot = {"stages": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0,
           "input_rows": 0, "shuffle_bytes": 0}
    for s in stages:
        try:
            d = store.lastStageAttempt(s)
        except Py4JJavaError:
            continue  # skipped stage (reused shuffle output): no attempt
        tot["stages"] += 1
        tot["tasks"] += d.numTasks()
        tot["run_ms"] += d.executorRunTime()
        tot["cpu_ns"] += d.executorCpuTime()
        tot["input_rows"] += d.inputRecords()
        tot["shuffle_bytes"] += d.shuffleReadBytes() + d.shuffleWriteBytes()
    return tot


def _tracker_phases(df) -> dict:
    out = {"analysis_ms": 0, "optimization_ms": 0, "planning_ms": 0}
    if df is None:
        return out
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        key = f"{kv._1()}_ms"
        if key in out:
            out[key] = kv._2().durationMs()
    return out


def _python_ms(df) -> float:
    """Σ Python-node time in the executed plan (0 when none ran)."""
    if df is None:
        return 0.0
    total = 0.0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() == "pythonTotalTime":
                m = kv._2()
                v = float(m.value())
                total += v / 1e6 if m.metricType() == "nsTiming" else v
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return total
