"""Per-layer counters read from Spark after each step, and in-memory spans.

Counters come from outside the engine: the AppStatusStore (jobs, stages)
and the SQL status store, whose plan-graph metrics carry the Python-worker
times and bytes of Arrow/pandas UDF and ``mapInArrow`` nodes. Jobs are
attributed to a step's build or sink phase by the job group the benchmark
sets before each phase.
"""

from __future__ import annotations

import itertools
import time

#: SQL metric name -> counter name, on Python-evaluating plan nodes
_PYTHON_METRICS = {
    "time to run Python workers": "python.total_s",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.boot_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
_MS_COUNTERS = {"python.total_s", "python.boot_s"}


class StatusProbe:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._acc = sc._jvm.org.apache.spark.util.AccumulatorContext
        self._stage_defaults = [
            getattr(self._store, f"stageData$default${i}")() for i in range(2, 6)
        ]

    def settle(self) -> None:
        """Wait until every posted listener event reached the status stores."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list:
        return sorted(self._sc.statusTracker().getJobIdsForGroup(group))

    def sql_mark(self) -> int:
        """Id of the newest SQL execution so far (-1 if none)."""
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return self._sql.executionsList(n - 1, 1).head().executionId()

    def job_stats(self, job_ids) -> dict:
        """Wall time of the jobs plus the sums over their executed stages."""
        out = {
            "jobs": len(job_ids), "jobs_s": 0.0, "tasks": 0, "executor_run_s": 0.0,
            "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0, "spill_bytes": 0, "input_rows": 0,
        }
        for jid in job_ids:
            job = self._store.job(jid)
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                out["jobs_s"] += (
                    job.completionTime().get().getTime()
                    - job.submissionTime().get().getTime()
                ) / 1e3
            stages = job.stageIds().iterator()
            while stages.hasNext():
                attempts = self._store.stageData(stages.next(), *self._stage_defaults)
                it = attempts.iterator()
                while it.hasNext():
                    s = it.next()
                    if s.status().toString() == "SKIPPED":
                        continue
                    out["tasks"] += s.numCompleteTasks()
                    out["executor_run_s"] += s.executorRunTime() / 1e3
                    out["executor_cpu_s"] += s.executorCpuTime() / 1e9
                    out["gc_s"] += s.jvmGcTime() / 1e3
                    out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    out["shuffle_read_bytes"] += s.shuffleReadBytes()
                    out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                    out["input_rows"] += s.inputRecords()
        return out

    def python_stats(self, since_mark: int, job_ids) -> dict:
        """Python-node SQL metrics of the executions newer than ``since_mark``
        that ran any of ``job_ids``."""
        wanted = set(job_ids)
        out = {
            "python.total_s": 0.0, "python.boot_s": 0.0, "python.bytes_sent": 0,
            "python.bytes_received": 0, "python.rows_received": 0,
        }
        for eid in itertools.count(since_mark + 1):
            ex = self._sql.execution(eid)
            if not ex.isDefined():
                break
            jobs = ex.get().jobs().keys().iterator()
            ran = set()
            while jobs.hasNext():
                ran.add(jobs.next())
            if not ran & wanted:
                continue
            nodes = self._sql.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node_metrics = {}
                ms = nodes.next().metrics().iterator()
                while ms.hasNext():
                    m = ms.next()
                    node_metrics[m.name()] = m.accumulatorId()
                if "time to run Python workers" not in node_metrics:
                    continue
                for name, key in _PYTHON_METRICS.items():
                    if name in node_metrics:
                        v = self._value(node_metrics[name])
                        out[key] += v / 1e3 if key in _MS_COUNTERS else v
                if "number of output rows" in node_metrics:
                    out["python.rows_received"] += self._value(
                        node_metrics["number of output rows"]
                    )
        return out

    def _value(self, acc_id: int) -> int:
        acc = self._acc.get(acc_id)
        return int(acc.get().value()) if acc.isDefined() else 0


class Tracer:
    """Spans kept in memory: name, start, end, parent id and counts."""

    def __init__(self):
        self.spans: list = []
        self._t0 = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "parent": parent, "name": name,
            "start_s": start - self._t0, "end_s": end - self._t0, **attrs,
        })
        return sid

    def self_times(self) -> dict:
        """Seconds per span name not covered by the span's children."""
        child_s: dict = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + (
                    s["end_s"] - s["start_s"]
                )
        out: dict = {}
        for s in self.spans:
            own = s["end_s"] - s["start_s"] - child_s.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out
