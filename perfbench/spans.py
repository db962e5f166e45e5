"""Spans and Spark counters for the traced run.

Spans are kept in memory and written out once, when the run ends. Each
op's Spark work is read after the op from Spark's own records: the
query's ``QueryPlanningTracker`` phases, the status store's job and
stage records for the op's job group, and the executed plan's node
metrics. The listener bus is drained first, so the status store holds
every finished stage; a stage that is still missing counts as a failed
read, never as zero. The status store and listener bus are Spark-internal
(``private[spark]``) and reached through py4j, so a Spark upgrade may
move them.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_PHASES = ("analysis", "optimization", "planning")
_STAGE_COUNTERS = {
    # status-store StageData getter -> (layer metric, scale to report unit)
    "numTasks": ("exec.tasks", 1),
    "numFailedTasks": ("exec.failed_tasks", 1),
    "executorRunTime": ("exec.task_s", 1e-3),
    "executorCpuTime": ("exec.task_cpu_s", 1e-9),
    "jvmGcTime": ("exec.gc_s", 1e-3),
    "inputBytes": ("exec.input_bytes", 1),
    "inputRecords": ("exec.input_rows", 1),
    "shuffleWriteBytes": ("exec.shuffle_write_bytes", 1),
    "shuffleReadBytes": ("exec.shuffle_read_bytes", 1),
    "diskBytesSpilled": ("exec.spill_bytes", 1),
}
_PYTHON_METRICS = {
    # plan node SQLMetric -> (layer metric, scale)
    "pythonBootTime": ("python.boot_s", 1e-3),
    "pythonTotalTime": ("python.exec_s", 1e-3),
    "pythonDataSent": ("python.bytes_sent", 1),
    "pythonDataReceived": ("python.bytes_received", 1),
}


class Tracer:
    """In-memory spans plus readers for one SparkSession's counters."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, op_id: str, parent: int | None = None):
        """Record ``name`` around the block; yields the span id."""
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": op_id, "parent": parent, "start": time.time()}
        self.spans.append(rec)
        try:
            yield sid
        finally:
            rec["end"] = time.time()

    def job_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def jobs_of(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def job_counters(self, job_ids: list[int]) -> dict:
        """Exec counters summed over the jobs' non-skipped stages, plus
        ``last_job_end`` (epoch s) and ``trace.failed_reads``."""
        out = {m: 0.0 for m, _ in _STAGE_COUNTERS.values()}
        out.update({"exec.jobs": len(job_ids), "exec.stages": 0, "trace.failed_reads": 0})
        store = self._jsc.statusStore()
        last_end = None
        for jid in job_ids:
            try:
                job = store.job(jid)
            except Py4JJavaError:  # NoSuchElementException: not in the store
                out["trace.failed_reads"] += 1
                continue
            if job.completionTime().isDefined():
                end = job.completionTime().get().getTime() / 1e3
                last_end = end if last_end is None else max(last_end, end)
            else:
                out["trace.failed_reads"] += 1
            ids = job.stageIds()
            for i in range(ids.size()):
                try:
                    st = store.lastStageAttempt(ids.apply(i))
                except Py4JJavaError:
                    out["trace.failed_reads"] += 1
                    continue
                status = st.status().toString()
                if status == "SKIPPED":
                    continue
                if status not in ("COMPLETE", "FAILED"):
                    out["trace.failed_reads"] += 1
                    continue
                out["exec.stages"] += 1
                for getter, (metric, scale) in _STAGE_COUNTERS.items():
                    out[metric] += getattr(st, getter)() * scale
        out["last_job_end"] = last_end
        return out

    @staticmethod
    def phases(df) -> dict:
        """Catalyst phase seconds from the query's planning tracker."""
        ph = df._jdf.queryExecution().tracker().phases()
        out = {}
        for p in _PHASES:
            o = ph.get(p)
            out[f"catalyst.{p}_s"] = o.get().durationMs() / 1e3 if o.isDefined() else 0.0
        return out

    @staticmethod
    def plan_counters(df) -> dict:
        """Python-runner and AQE counters from the executed plan's nodes.

        Walks the final adaptive plan and query-stage subplans. Reused
        exchanges are leaves, so shared work is counted once.
        """
        out = {m: 0.0 for m, _ in _PYTHON_METRICS.values()}
        out.update({"aqe.query_stages": 0, "aqe.coalesced_partitions": 0})
        stack = [df._jdf.queryExecution().executedPlan()]
        while stack:
            node = stack.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                out["aqe.query_stages"] += 1
                stack.append(node.plan())
                continue
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                name = kv._1()
                if name in _PYTHON_METRICS:
                    metric, scale = _PYTHON_METRICS[name]
                    out[metric] += kv._2().value() * scale
                elif name == "numCoalescedPartitions":
                    out["aqe.coalesced_partitions"] += kv._2().value()
            for seq in (node.children(), node.subqueries()):
                for i in range(seq.size()):
                    stack.append(seq.apply(i))
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
