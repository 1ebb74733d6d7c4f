"""Counters read from outside the program.

- Job groups: every traced call runs under its own ``setJobGroup``; the
  stage, task and SQL figures of that group are read back from the
  application status store (populated with ``spark.ui.enabled=false``).
- Memory: peak RSS (``VmHWM``) of the driver process and of its JVM,
  read from ``/proc``.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError
from pyspark.sql import SparkSession

SQL_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
                    "MapInPandas", "FlatMapGroupsInArrow", "MapInArrow",
                    "AggregateInPandas", "WindowInPandas", "PythonUDTF",
                    "FlatMapCoGroupsInPandas", "FlatMapCoGroupsInArrow")


def _vm_hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(spark: SparkSession) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mib(pids: list[int]) -> float:
    """Sum of the processes' peak resident set sizes, in MiB."""
    return sum(_vm_hwm_kib(p) for p in pids) / 1024.0


def set_group(spark: SparkSession, group: str | None) -> None:
    sc = spark.sparkContext
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(group, group)


def _flush(spark: SparkSession) -> None:
    """Let the listener bus deliver every pending event to the store."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    except Py4JError:  # the method is Spark-internal; other versions may lack it
        pass


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def group_stats(spark: SparkSession, group: str) -> dict:
    """Stage/task/SQL figures of every job run under ``group``.

    task_s: summed executor run time; max_task_s: slowest task of the
    group's largest stage (by summed run time); failed_tasks / retried
    stage attempts count faults; python_rows sums the output rows of
    the Python/Arrow plan nodes of the group's SQL executions.
    """
    _flush(spark)
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
    out = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "task_s": 0.0,
           "max_task_s": 0.0, "failed_tasks": 0, "retried_stages": 0,
           "shuffle_bytes": 0, "spill_bytes": 0, "python_rows": 0}
    stage_ids: set[int] = set()
    for jid in job_ids:
        try:
            job = store.job(int(jid))
        except Py4JError:  # evicted from the store
            continue
        stage_ids.update(int(s) for s in _seq(job.stageIds()))
    default3 = getattr(store, "stageData$default$3")()
    default5 = getattr(store, "stageData$default$5")()
    largest = (-1.0, None)
    for sid in sorted(stage_ids):
        try:
            attempts = _seq(store.stageData(sid, False, default3, False, default5))
        except Py4JError:  # never submitted (skipped) or evicted
            continue
        for a in attempts:
            if a.status().toString() in ("SKIPPED", "PENDING"):
                continue
            run_s = a.executorRunTime() / 1000.0
            out["stages"] += 1
            out["tasks"] += a.numTasks()
            out["task_s"] += run_s
            out["failed_tasks"] += a.numFailedTasks()
            out["retried_stages"] += 1 if a.attemptId() > 0 else 0
            out["shuffle_bytes"] += a.shuffleWriteBytes()
            out["spill_bytes"] += a.memoryBytesSpilled() + a.diskBytesSpilled()
            if run_s > largest[0]:
                largest = (run_s, (sid, a.attemptId()))
    if largest[1] is not None:
        tasks = _seq(store.taskList(largest[1][0], largest[1][1], 1_000_000))
        out["max_task_s"] = max(
            (t.taskMetrics().get().executorRunTime() / 1000.0
             for t in tasks if t.taskMetrics().isDefined()),
            default=0.0,
        )
    out["python_rows"] = _python_rows(spark, set(int(j) for j in job_ids))
    return out


def _python_rows(spark: SparkSession, job_ids: set[int]) -> int:
    """Output rows of Python/Arrow worker nodes in the SQL executions
    that ran any of ``job_ids``."""
    if not job_ids:
        return 0
    try:
        sql = spark._jsparkSession.sharedState().statusStore()
        total = 0
        for ex in _seq(sql.executionsList()):
            jobs = ex.jobs()
            if not any(int(j) in job_ids for j in _seq(jobs.keys().toSeq())):
                continue
            values = ex.metricValues()
            if values is None:
                continue
            graph = sql.planGraph(ex.executionId())
            for node in _seq(graph.allNodes()):
                if not any(node.name().startswith(n) for n in SQL_PYTHON_NODES):
                    continue
                for m in _seq(node.metrics()):
                    if m.name() == "number of output rows":
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            total += int(str(v.get()).replace(",", ""))
        return total
    except Py4JError:  # SQL store layout differs by Spark version
        return -1


def host_facts() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "loadavg_1m": os.getloadavg()[0],
    }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)
