"""Per-layer tracing from outside the program.

``Tracer`` times calls into the layers' public functions (spans summed by
name) and, after each traced job, reads two stores Spark keeps anyway:
the SQL store (executed-plan metrics of every query the job ran, through
AQE stages, including write commands) and the status store (stage and
task metrics, JVM GC time). Neither the program nor the untraced jobs
change when tracing is on.
"""

from __future__ import annotations

import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_UNITS_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}

# (node-name test, display metric name) -> per-layer key
_NODE_METRICS = (
    ("scan", "number of output rows", "scan.rows"),
    ("scan", "size of files read", "scan.bytes"),
    ("scan", "scan time", "scan.time_ms"),
    ("arrow", "data sent to Python workers", "arrow.data_sent_bytes"),
    ("arrow", "data returned from Python workers", "arrow.data_received_bytes"),
    ("arrow", "time to run Python workers", "arrow.python_total_ms"),
    ("arrow", "time to start Python workers", "arrow.boot_init_ms"),
    ("arrow", "time to initialize Python workers", "arrow.boot_init_ms"),
    ("any", "time in aggregation build", "agg.time_ms"),
    ("exchange", "shuffle bytes written", "exchange.shuffle_bytes"),
    ("exchange", "shuffle write time", "exchange.shuffle_write_ms"),
    ("write", "number of output rows", "write.rows"),
    ("write", "written output", "write.bytes"),
    ("write", "number of written files", "write.files"),
)
_COUNTED_NODES = {"scan": "scan.count", "arrow": "arrow.hops",
                  "exchange": "exchange.count"}


def _node_kind(name: str, metric_names: set[str]) -> str:
    if name.startswith("Scan "):
        return "scan"
    if "data sent to Python workers" in metric_names:
        return "arrow"
    if name == "Exchange":
        return "exchange"
    if name.startswith("Execute InsertInto"):
        return "write"
    return "other"


def parse_metric(value: str, metric_type: str) -> float:
    """A SQL-store metric string as a number: bytes for sizes, ms for
    timings, the plain count otherwise. Sizes and timings that ran in
    several tasks read 'total (min, med, max ...)\\n<total> (...)'."""
    text = value.split("\n")[-1]
    if metric_type == "size":
        num, unit = re.match(r"([\d.,]+) (\w+)", text).groups()
        return float(num.replace(",", "")) * _SIZE_UNITS[unit]
    if metric_type in ("timing", "nsTiming"):
        num, unit = re.match(r"([\d.,]+) (\w+)", text).groups()
        return float(num.replace(",", "")) * _TIME_UNITS_MS[unit]
    return float(text.split()[0].replace(",", ""))


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: dict[str, float] = defaultdict(float)
        self.counts: dict[str, float] = defaultdict(float)
        self._group = None
        self._first_execution = 0

    @contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.spans[name] += time.perf_counter() - t

    def count(self, name: str, value: float) -> None:
        self.counts[name] += value

    def begin(self, group: str) -> None:
        """Tag the Spark jobs that follow with ``group``."""
        self._group = group
        self._first_execution = self._next_execution_id()
        self.spark.sparkContext.setJobGroup(group, group)

    def end(self) -> None:
        """Untag, then read both stores for the tagged jobs' metrics."""
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        self._read_sql_store()
        self._read_status_store()

    def values(self) -> dict[str, float]:
        return {**self.spans, **self.counts}

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _next_execution_id(self) -> int:
        ex = self._sql_store().executionsList()
        return ex.apply(ex.size() - 1).executionId() + 1 if ex.size() else 0

    def _read_sql_store(self) -> None:
        store = self._sql_store()
        ex = store.executionsList()
        for i in range(ex.size()):
            eid = ex.apply(i).executionId()
            if eid < self._first_execution:
                continue
            values = store.executionMetrics(eid)
            nodes = store.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                metrics = {}
                ms = node.metrics()
                for m in range(ms.size()):
                    pm = ms.apply(m)
                    acc = pm.accumulatorId()
                    if values.contains(acc):
                        metrics[pm.name()] = (values.apply(acc), pm.metricType())
                kind = _node_kind(node.name(), set(metrics))
                if kind in _COUNTED_NODES:
                    self.count(_COUNTED_NODES[kind], 1)
                for want, mname, key in _NODE_METRICS:
                    if (want == kind or want == "any") and mname in metrics:
                        self.count(key, parse_metric(*metrics[mname]))

    def _read_status_store(self) -> None:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        stage_ids = set()
        for job_id in tracker.getJobIdsForGroup(self._group):
            info = tracker.getJobInfo(job_id)
            stage_ids.update(info.stageIds if info else ())
        busiest, busiest_run = None, -1
        for sid in sorted(stage_ids):
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            self.count("stage.tasks", sd.numCompleteTasks())
            self.count("stage.run_ms", sd.executorRunTime())
            self.count("stage.cpu_ms", sd.executorCpuTime() / 1e6)
            self.count("stage.gc_ms", sd.jvmGcTime())
            if sd.executorRunTime() > busiest_run:
                busiest, busiest_run = (sid, sd.attemptId()), sd.executorRunTime()
        if busiest is not None:
            tasks = store.taskList(busiest[0], busiest[1], 100000)
            runs = []
            for i in range(tasks.size()):
                tm = tasks.apply(i).taskMetrics()
                if tm.isDefined():
                    runs.append(tm.get().executorRunTime())
            if runs and statistics.median(runs) > 0:
                self.counts["stage.task_skew"] = max(
                    self.counts.get("stage.task_skew", 0.0),
                    max(runs) / statistics.median(runs))
