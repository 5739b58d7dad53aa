"""Counters read from a running Spark driver, from outside the library.

* job and stage ids come from the DAG scheduler's counters, which advance
  synchronously when a job or stage is created;
* stage metrics come from the core status store (``AppStatusStore``) and
  Python-worker metrics from the SQL status store; both are read after
  the listener bus has drained;
* bytes written are the JVM's Hadoop file-system statistics;
* plan shape is counted on a step's executed physical plan;
* resident memory is read from ``/proc``.
"""

from __future__ import annotations

import os
import re


class SparkStats:
    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._jspark = spark._jsparkSession
        self._jvm = spark._jvm
        self._dag = self._sc.dagScheduler()

    def next_job_id(self) -> int:
        return self._dag.nextJobId()

    def next_stage_id(self) -> int:
        return self._dag.nextStageId()

    def bytes_written(self) -> int:
        stats = self._jvm.org.apache.hadoop.fs.FileSystem.getAllStatistics()
        return sum(stats.get(i).getBytesWritten() for i in range(stats.size()))

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def stages(self, first: int, end: int) -> dict[str, float]:
        """Totals over stages ``first <= id < end`` that ran (not skipped),
        plus their [submitted, completed] wall-clock intervals in seconds."""
        store = self._sc.statusStore()
        out = dict.fromkeys(
            ("stages", "tasks", "task_failures", "run_s", "cpu_s", "gc_s",
             "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
             "input_bytes"), 0)
        intervals = []
        for sid in range(first, end):
            try:
                s = store.lastStageAttempt(sid)
            except Exception:  # a stage id with no record in the store
                continue
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["task_failures"] += s.numFailedTasks()
            out["run_s"] += s.executorRunTime() / 1e3
            out["cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["spill_bytes"] += s.diskBytesSpilled()
            out["input_bytes"] += s.inputBytes()
            sub, done = s.submissionTime(), s.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        out["intervals"] = intervals
        return out

    def last_execution_id(self) -> int:
        execs = self._jspark.sharedState().statusStore().executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() if n else -1

    def python_metrics(self, after_id: int) -> dict[str, float]:
        """Python-worker time and bytes of SQL executions with id > after_id."""
        store = self._jspark.sharedState().statusStore()
        execs = self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            store.executionsList()
        )
        out = {"run_s": 0.0, "start_s": 0.0, "bytes_sent": 0.0, "bytes_received": 0.0}
        for i in range(execs.size() - 1, -1, -1):
            e = execs.get(i)
            if e.executionId() <= after_id:
                break
            values = None
            metrics = e.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                key = PY_METRICS.get(m.name())
                if key is None:
                    continue
                if values is None:
                    values = store.executionMetrics(e.executionId())
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out[key] += parse_metric(v.get())
        return out

    def plan_counts(self, df) -> dict[str, int]:
        out = {"exchanges": 0, "python_nodes": 0, "non_codegen_nodes": 0}
        _walk(df._jdf.queryExecution().executedPlan(), False, out)
        return out


PY_METRICS = {
    "time to run Python workers": "run_s",
    "time to start Python workers": "start_s",
    "time to initialize Python workers": "start_s",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_received",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: ``'total (min, med, max ...)\\n3.3 s
    (...)'`` -> 3.3; sizes in bytes, times in seconds."""
    line = text.split("\n")[-1]
    m = _VALUE.match(line.strip())
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


_STRUCTURAL = {
    "AdaptiveSparkPlanExec", "WholeStageCodegenExec", "InputAdapter",
    "ShuffleQueryStageExec", "BroadcastQueryStageExec", "ResultQueryStageExec",
    "TableCacheQueryStageExec", "AQEShuffleReadExec", "ReusedExchangeExec",
    "ShuffleExchangeExec", "BroadcastExchangeExec", "ReusedSubqueryExec",
    "SubqueryExec", "SubqueryBroadcastExec", "SubqueryAdaptiveBroadcastExec",
}


def _seq(seq):
    return [seq.apply(i) for i in range(seq.size())]


def _walk(node, in_codegen, out):
    name = node.getClass().getSimpleName()
    if name in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
        out["exchanges"] += 1
    if "Python" in name or "Pandas" in name or "InArrow" in name:
        out["python_nodes"] += 1
    if name not in _STRUCTURAL and not in_codegen:
        out["non_codegen_nodes"] += 1
    if name == "ReusedExchangeExec":
        return
    if name == "AdaptiveSparkPlanExec":
        children = [node.executedPlan()]
    elif name.endswith("QueryStageExec"):
        children = [node.plan()]
    else:
        children = _seq(node.children()) + _seq(node.subqueries())
    if name == "WholeStageCodegenExec":
        in_codegen = True
    elif name == "InputAdapter":
        in_codegen = False
    for child in children:
        _walk(child, in_codegen, out)


def descendants(root_pid: int) -> set[int]:
    """Pids of every live process below ``root_pid``."""
    parents = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parents[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree = {root_pid}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parents.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree - {root_pid}


def peak_rss_mb(root_pid: int) -> float:
    """Sum of peak resident set sizes (VmHWM) of ``root_pid`` and every
    live descendant: the driver JVM and the Python daemon and workers."""
    kb = 0
    for pid in descendants(root_pid) | {root_pid}:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024
