"""Spark counters read from outside the package, through the status
stores that stay populated with ``spark.ui.enabled=false``.

The benchmark drives one operation at a time, so the jobs and SQL
executions of a phase are exactly those whose ids were assigned while
the phase ran; each phase is also tagged with ``sc.setJobGroup`` so the
jobs carry its name.
"""

from __future__ import annotations

import re
import statistics
from contextlib import contextmanager

# SQL metric name -> per-layer metric key
_PY_METRICS = {
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "py_bytes_in",
    "data returned from Python workers": "py_bytes_out",
}

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}


def parse_metric_total(text: str) -> float:
    """Total of one formatted SQL metric value: either ``"12 ms"`` or
    the ``"total (min, med, max ...)\\n1.2 s (...)"`` form. Times come
    back in seconds, sizes in bytes, plain counts as they are."""
    m = re.match(r"\s*([-0-9.]+)\s*([A-Za-z]*)",
                 text.strip().splitlines()[-1])
    if not m:
        return 0.0
    return float(m.group(1)) * _UNITS.get(m.group(2), 1.0)


def _seq(x) -> list:
    """Scala Seq -> Python list."""
    return [x.apply(i) for i in range(x.size())]


class SparkCounters:
    """Reads stage, task and SQL-execution counters for id windows."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def _sync(self):
        self._jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        """(highest job id, highest SQL execution id) seen so far."""
        self._sync()
        jobs = _seq(self._jsc.statusStore().jobsList(None))
        execs = _seq(self.spark._jsparkSession.sharedState().statusStore()
                     .executionsList())
        return (max((j.jobId() for j in jobs), default=-1),
                max((e.executionId() for e in execs), default=-1))

    @contextmanager
    def group(self, name: str):
        """Tag the jobs run inside the block with job group ``name``."""
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def read(self, since: tuple[int, int]) -> dict:
        """Counters of the jobs and executions after mark ``since``."""
        self._sync()
        store = self._jsc.statusStore()
        job0, exec0 = since
        jobs = [j for j in _seq(store.jobsList(None)) if j.jobId() > job0]
        stage_ids = {int(s) for j in jobs for s in _seq(j.stageIds())}
        empty = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        stages = [s for s in _seq(store.stageList(None, False, False, empty,
                                                  None))
                  if s.stageId() in stage_ids]
        out = {
            "jobs": len(jobs),
            "stages": sum(1 for s in stages if str(s.status()) != "SKIPPED"),
            "tasks": sum(s.numCompleteTasks() for s in stages),
            "failed_tasks": sum(s.numFailedTasks() for s in stages),
            "executor_run_s": sum(s.executorRunTime() for s in stages) / 1e3,
            "executor_cpu_s": sum(s.executorCpuTime() for s in stages) / 1e9,
            "gc_s": sum(s.jvmGcTime() for s in stages) / 1e3,
            "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in stages),
            "shuffle_read_bytes": sum(s.shuffleReadBytes() for s in stages),
            "fill_task_skew": 0.0,
        }
        ran = [s for s in stages if s.numCompleteTasks() > 0]
        if ran:
            # the fill stage is the one that kept executors busiest
            top = max(ran, key=lambda s: s.executorRunTime())
            runs = [t.taskMetrics().get().executorRunTime()
                    for t in _seq(store.taskList(top.stageId(), top.attemptId(),
                                                 100000))
                    if t.taskMetrics().isDefined()]
            med = statistics.median(runs) if runs else 0
            out["fill_task_skew"] = max(runs) / med if med > 0 else 1.0
        for key in _PY_METRICS.values():
            out[key] = 0.0
        sql = self.spark._jsparkSession.sharedState().statusStore()
        for e in _seq(sql.executionsList()):
            if e.executionId() <= exec0:
                continue
            names = {m.accumulatorId(): m.name() for m in _seq(e.metrics())}
            for kv in _seq(sql.executionMetrics(e.executionId()).toSeq()):
                key = _PY_METRICS.get(names.get(kv._1()))
                if key:
                    out[key] += parse_metric_total(kv._2())
        return out
