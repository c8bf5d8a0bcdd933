"""Per-layer numbers read from Spark's own status stores.

Nothing in the program is instrumented. Each step of a traced pass runs
under its own job group; afterwards ``Tracer.read_step`` reads

- from the core status store (``SparkContext.statusStore``): the jobs of
  the group, the stages those jobs ran and each stage's task metrics;
- from the SQL status store (``SharedState.statusStore``): the SQL
  executions started since the previous read and their per-operator
  metrics (scan and Python worker nodes). Jobs that run outside a SQL
  execution (``localCheckpoint`` materialisations) add to the job,
  stage and task metrics but carry no operator metrics.

Both stores keep their data with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import re
import time
from collections import Counter

MB = 1024.0 * 1024.0

_UNITS = {
    "B": 1.0, "KiB": 1024.0, "MiB": MB, "GiB": MB * 1024, "TiB": MB * 1024 * 1024,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")

# plan nodes that carry the metrics below: file scans and Python UDF
# operators (ArrowEvalPython, FlatMapGroupsInPandas, MapInArrow, ...)
_SQL_NODES = ("Scan", "Python", "Pandas", "Arrow")
# SQL metric name -> (layer metric, scale to the layer metric's unit)
_SQL_METRICS = {
    "number of files read": ("sources.files_read", 1.0),
    "size of files read": ("sources.scan_mb", 1.0 / MB),
    "scan time": ("sources.scan_s", 1.0),
    "time to start Python workers": ("py.boot_s", 1.0),
    "time to initialize Python workers": ("py.boot_s", 1.0),
    "time to run Python workers": ("py.run_s", 1.0),
    "data sent to Python workers": ("py.sent_mb", 1.0 / MB),
    "data returned from Python workers": ("py.returned_mb", 1.0 / MB),
}


def parse_metric_value(text: str) -> float:
    """Total of a formatted SQL metric value ("1.7 s", "4.5 MiB",
    "60,000", or the multi-line "total (min, med, max ...)" form)."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


class Tracer:
    """Reads the status stores once per step. Every read is timed and
    reported as ``trace.read_s``; it happens outside the step's window."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._cc = jvm.scala.jdk.javaapi.CollectionConverters
        self._core = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seen_executions = self._sql.executionsCount()
        self.read_s = 0.0

    def _java(self, scala_collection):
        return self._cc.asJava(scala_collection)

    def _new_executions(self) -> list:
        total = self._sql.executionsCount()
        if total == self._seen_executions:
            return []
        new = self._sql.executionsList(self._seen_executions, total - self._seen_executions)
        self._seen_executions = total
        return list(self._java(new))

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def read_step(self, group: str) -> dict[str, float]:
        """Counts and metrics of every job run under ``group`` since
        ``begin(group)``, and of every SQL execution since the last read."""
        t0 = time.perf_counter()
        out: Counter = Counter()
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        out["sched.jobs"] = len(job_ids)
        stage_ids = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            sd = self._core.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            out["sched.stages"] += 1
            out["sched.tasks"] += sd.numTasks()
            out["sched.task_failures"] += sd.numFailedTasks()
            out["sched.stage_retries"] += sd.attemptId()
            out["exec.run_s"] += sd.executorRunTime() / 1e3
            out["exec.cpu_s"] += sd.executorCpuTime() / 1e9
            out["exec.gc_s"] += sd.jvmGcTime() / 1e3
            out["exec.shuffle_read_mb"] += sd.shuffleReadBytes() / MB
            out["exec.shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
            out["exec.spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
        for e in self._new_executions():
            eid = e.executionId()
            values = self._sql.executionMetrics(eid)
            for node in self._java(self._sql.planGraph(eid).allNodes()):
                if not any(k in node.name() for k in _SQL_NODES):
                    continue
                for m in self._java(node.metrics()):
                    target = _SQL_METRICS.get(m.name())
                    if target is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[target[0]] += parse_metric_value(v.get()) * target[1]
        self.sc._jsc.clearJobGroup()
        self.read_s += time.perf_counter() - t0
        return dict(out)

    def storage_mb(self) -> float:
        """Executor storage in use: cached blocks in memory and on disk."""
        total = 0
        for ex in self._java(self._core.executorList(True)):
            total += ex.memoryUsed() + ex.diskUsed()
        return total / MB


def catalyst_ms(df) -> float:
    """Analysis + optimisation + physical planning time of the
    DataFrame's query execution, from Catalyst's own phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        if p.isDefined():
            total += p.get().durationMs()
    return float(total)


def task_failures(spark) -> int:
    """Failed task attempts over the whole session (each one is retried
    or fails its job), from the executor summaries."""
    sc = spark.sparkContext
    cc = sc._jvm.scala.jdk.javaapi.CollectionConverters
    store = sc._jsc.sc().statusStore()
    return int(sum(ex.failedTasks() for ex in cc.asJava(store.executorList(True))))
