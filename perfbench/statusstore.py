"""Per-operation Spark execution metrics, read from Spark's status stores.

Each operation runs under its own job group. After it ends, ``OpReader``
drains the listener bus, collects the group's jobs and their stages from
the core status store, and the SQL executions that ran those jobs from
the SQL status store. Stage data gives exact task, CPU, GC, shuffle and
spill numbers; SQL plan-node metrics give scan, broadcast and Python
worker numbers, which stage data does not carry (a parquet scan's stage
reports 0 input bytes while its scan node reports the bytes read).

A plan graph repeats the nodes of every cached relation it reads, with
the accumulators of the execution that filled the cache, so each
accumulator is counted once per run, the first time it is seen.
"""

from __future__ import annotations

import re

SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50, "EiB": 2**60}
TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TOTAL_HEADER = "total (min, med, max"
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")

# plan-node metric name -> layer metric, for metrics only one node kind reports
_NODE_METRICS = {
    "size of files read": "spark.scan_bytes",
    "scan time": "spark.scan_s",
    "time to build": "spark.broadcast_build_s",
    "time to collect": "spark.broadcast_collect_s",
    "data sent to Python workers": "spark.python_bytes_sent",
    "time to start Python workers": "spark.python_start_s",
    "time to initialize Python workers": "spark.python_init_s",
    "time to run Python workers": "spark.python_run_s",
}

SPARK_METRICS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.job_s",
    "spark.driver_s",
    "spark.scan_bytes",
    "spark.scan_rows",
    "spark.scan_s",
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_s",
    "spark.shuffle_fetch_wait_s",
    "spark.broadcast_bytes",
    "spark.broadcast_build_s",
    "spark.broadcast_collect_s",
    "spark.python_bytes_sent",
    "spark.python_start_s",
    "spark.python_init_s",
    "spark.python_run_s",
    "spark.task_run_s",
    "spark.task_cpu_s",
    "spark.gc_s",
    "spark.spill_bytes",
    "spark.persistent_rdds_after",
    "spark.cached_plans_after",
)


def parse_metric(text: str, metric_type: str) -> float | None:
    """Total of one formatted SQL metric value, in bytes, seconds or a
    plain count. Values with a per-task breakdown read
    ``total (min, med, max (stageId: taskId))\\n<total> (<min>, ...)``;
    the total is the first figure on the second line. Averages and
    unparseable strings give None."""
    if metric_type == "average" or not text:
        return None
    if text.startswith(_TOTAL_HEADER):
        text = text.split("\n", 1)[1] if "\n" in text else ""
    m = _VALUE.match(text)
    if not m:
        return None
    number, unit = float(m.group(1).replace(",", "")), m.group(2)
    if metric_type == "size":
        return number * SIZE_UNITS[unit] if unit in SIZE_UNITS else None
    if metric_type in ("timing", "nsTiming"):
        return number * TIME_UNITS[unit] if unit in TIME_UNITS else None
    return number


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _interval_union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class OpReader:
    """Reads the metrics of one operation after another; create one per
    SparkContext."""

    def __init__(self, spark):
        self._spark = spark
        self._jsc = spark.sparkContext._jsc
        self._seen_accumulators: set[int] = set()
        self._next_execution = 0

    def metrics(self, group: str, wall_s: float) -> dict[str, float]:
        """Metrics of the jobs run under ``group``; ``wall_s`` is the
        operation's wall time, from which driver time is derived."""
        sc = self._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        store = sc.statusStore()
        out = dict.fromkeys(SPARK_METRICS, 0.0)
        job_ids, stage_ids, intervals = set(), set(), []
        for job in _seq(store.jobsList(None)):
            if not (job.jobGroup().isDefined() and job.jobGroup().get() == group):
                continue
            job_ids.add(job.jobId())
            stage_ids.update(_seq(job.stageIds()))
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append(
                    (job.submissionTime().get().getTime() / 1e3, job.completionTime().get().getTime() / 1e3)
                )
        out["spark.jobs"] = len(job_ids)
        out["spark.job_s"] = _interval_union(intervals)
        out["spark.driver_s"] = max(0.0, wall_s - out["spark.job_s"])
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += st.numTasks()
            out["spark.task_run_s"] += st.executorRunTime() / 1e3
            out["spark.task_cpu_s"] += st.executorCpuTime() / 1e9
            out["spark.gc_s"] += st.jvmGcTime() / 1e3
            out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spark.shuffle_write_s"] += st.shuffleWriteTime() / 1e9
            out["spark.shuffle_fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
            out["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        for node, name, value in self._plan_metrics(job_ids):
            layer = _NODE_METRICS.get(name)
            if layer:
                out[layer] += value
            elif name == "number of output rows" and node.startswith("Scan "):
                out["spark.scan_rows"] += value
            elif name == "data size" and node == "BroadcastExchange":
                out["spark.broadcast_bytes"] += value
        return out

    def _plan_metrics(self, job_ids: set[int]):
        """(node name, metric name, value) for every not-yet-seen
        accumulator of the SQL executions that ran ``job_ids``."""
        sql = self._spark._jsparkSession.sharedState().statusStore()
        while True:
            ex = sql.execution(self._next_execution)
            if not ex.isDefined():
                return
            self._next_execution += 1
            ex = ex.get()
            ran = {t._1() for t in _seq(ex.jobs().toSeq())}
            if not ran & job_ids:
                continue
            values = {t._1(): t._2() for t in _seq(sql.executionMetrics(ex.executionId()).toSeq())}
            for node in _seq(sql.planGraph(ex.executionId()).allNodes()):
                for m in _seq(node.metrics()):
                    acc = m.accumulatorId()
                    if acc in self._seen_accumulators or acc not in values:
                        continue
                    self._seen_accumulators.add(acc)
                    value = parse_metric(values[acc], m.metricType())
                    if value is not None:
                        yield node.name(), m.name(), value

    def leftovers(self) -> dict[str, float]:
        """Persistent RDDs and cached plans still registered."""
        cache = self._spark._jsparkSession.sharedState().cacheManager()
        return {
            "spark.persistent_rdds_after": float(self._jsc.getPersistentRDDs().size()),
            "spark.cached_plans_after": float(cache.cachedData().size()),
        }
