"""Readers for Spark's own instrumentation: the in-process status store
(jobs, stages, task metrics per job group), the QueryPlanningTracker
phases of an executed DataFrame, and a StreamingQueryListener for the
micro-batch phase durations of streaming queries."""

from __future__ import annotations

import json
import threading

from pyspark.sql.streaming import StreamingQueryListener

STAGE_FIELDS = {
    # status-store StageData getter -> metric key
    "numTasks": "tasks",
    "executorRunTime": "task_run_ms",
    "executorCpuTime": "task_cpu_ns",
    "inputRecords": "input_rows",
    "inputBytes": "input_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_mem_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
    "jvmGcTime": "gc_ms",
}
STREAM_PHASES = ("addBatch", "getBatch", "queryPlanning", "walCommit", "triggerExecution")


def group_metrics(spark, group: str) -> dict:
    """Sum of stage metrics over every job of ``group``, plus job/stage
    counts, summed job wall time (submission to completion) and the
    largest per-stage peak execution memory."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    empty = sc._jvm.java.util.ArrayList()
    out = {k: 0 for k in STAGE_FIELDS.values()}
    out.update(jobs=0, stages=0, job_ms=0, peak_exec_mem_bytes=0)
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        jd = store.job(jid)
        out["jobs"] += 1
        sub, done = jd.submissionTime(), jd.completionTime()
        if sub.isDefined() and done.isDefined():
            out["job_ms"] += done.get().getTime() - sub.get().getTime()
        sids = jd.stageIds()
        for i in range(sids.size()):
            datas = store.stageData(sids.apply(i), False, empty, False, None)
            for k in range(datas.size()):
                sd = datas.apply(k)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                for getter, key in STAGE_FIELDS.items():
                    out[key] += getattr(sd, getter)()
                out["peak_exec_mem_bytes"] = max(
                    out["peak_exec_mem_bytes"], sd.peakExecutionMemory()
                )
    return out


def plan_ms(df) -> int:
    """Catalyst analysis + optimization + planning time of the query
    execution that ``df``'s own actions (collect, toPandas) ran."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in ("analysis", "optimization", "planning"):
            total += kv._2().durationMs()
    return total


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


class StreamPhases(StreamingQueryListener):
    """Collects ``durationMs`` of every micro-batch progress event.  Stream
    jobs run on the query's own thread, outside the caller's job group,
    so their time is invisible to job-group attribution."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.batches = 0
        self.ms = {p: 0 for p in STREAM_PHASES}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        dur = json.loads(event.progress.json).get("durationMs", {})
        with self._lock:
            self.batches += 1
            for p in STREAM_PHASES:
                self.ms[p] += int(dur.get(p, 0))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def snapshot(self) -> dict:
        with self._lock:
            return {"batches": self.batches, **self.ms}


def scan_files(df) -> int:
    """Files read by the file scans of ``df``'s executed plan (the scan
    node's ``numFiles`` metric), descending through adaptive plans, query
    stages and reused exchanges."""
    total = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(node.plan())
            continue
        metric = node.metrics().get("numFiles")
        if metric.isDefined():
            total += metric.get().value()
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return total
