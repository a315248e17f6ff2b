"""Spark counter collector for the traced run.

Each span runs under its own Spark job group. When the span ends, the
collector waits for the listener bus to drain and then reads, for the
jobs of that group only:

- jobs, stages and tasks from ``statusTracker`` and the status store;
- shuffle write/read bytes, spill, executor run/CPU time and JVM GC time
  from each stage's last attempt in the status store;
- Spark 4.1's ``PythonSQLMetrics`` (worker boot/run time, bytes sent,
  rows received) from the SQL status store, summed over the plan nodes
  that carry them.

Counters are "self" counters: a job belongs to the innermost span that
was open when it was submitted, exactly like span self time.
"""

from __future__ import annotations

import re

_PY_TIME = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.total_s",
}
_PY_SIZE = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_NUM = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")

EXEC_KEYS = (
    "jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "executor_run_s", "executor_cpu_s", "gc_s",
)
PY_KEYS = ("python.boot_s", "python.init_s", "python.total_s",
           "python.bytes_sent", "python.bytes_received", "python.rows_received")


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric string: the total on the last
    line, scaled by its unit (``"12.5 MiB"``, ``"1.2 s"``, ``"1,024"``)."""
    line = text.strip().splitlines()[-1]
    m = _NUM.match(line.strip())
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


class SparkCounters:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._jvm = self.sc._jvm
        self._groups: list[str] = []
        self._first_exec: dict[str, int] = {}

    # -- span hooks -------------------------------------------------------
    def enter(self, span) -> None:
        gid = f"perfbench-{span.id}"
        self._groups.append(gid)
        self._first_exec[gid] = self._sql_store.executionsCount()
        self.sc.setJobGroup(gid, gid)

    def exit(self, span, parent) -> None:
        gid = self._groups.pop()
        self._drain()
        span.counters.update(self.group_counters(gid, self._first_exec.pop(gid)))
        if self._groups:
            self.sc.setJobGroup(self._groups[-1], self._groups[-1])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    # -- readers ----------------------------------------------------------
    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def group_counters(self, gid: str, first_exec: int) -> dict:
        out = dict.fromkeys(EXEC_KEYS, 0)
        out.update(dict.fromkeys(PY_KEYS, 0))
        tracker = self.sc.statusTracker()
        job_ids = set(tracker.getJobIdsForGroup(gid))
        out["jobs"] = len(job_ids)
        stage_ids = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — evicted or never submitted
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
        self._python_metrics(job_ids, first_exec, out)
        return out

    def _python_metrics(self, job_ids: set, first_exec: int, out: dict) -> None:
        """Python metrics of the SQL executions that ran the group's jobs,
        looking only at executions started since the span opened."""
        n_new = self._sql_store.executionsCount() - first_exec
        if not job_ids or n_new <= 0:
            return
        conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        for ex in _seq(self._sql_store.executionsList(first_exec, n_new)):
            jobs = set(conv.asJava(ex.jobs()).keySet())
            if not jobs & job_ids:
                continue
            values = dict(conv.asJava(self._sql_store.executionMetrics(ex.executionId())))
            graph = self._sql_store.planGraph(ex.executionId())
            for node in _seq(graph.allNodes()):
                metrics = {m.name(): m.accumulatorId() for m in _seq(node.metrics())}
                if not any(n in metrics for n in _PY_TIME):
                    continue
                for name, acc in metrics.items():
                    key = _PY_TIME.get(name) or _PY_SIZE.get(name)
                    if name == "number of output rows":
                        key = "python.rows_received"
                    if key and acc in values:
                        out[key] += parse_metric(values[acc])

    def resident(self) -> dict:
        """Persisted RDDs still registered, and the bytes their blocks hold."""
        n = len(self.sc._jsc.getPersistentRDDs())
        infos = self._jsc.getRDDStorageInfo()
        nbytes = sum(i.memSize() + i.diskSize() for i in infos)
        return {"materialize.resident_rdds": n, "materialize.resident_bytes": nbytes}
