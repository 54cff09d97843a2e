"""Engine counters read from Spark's own status stores.

Both stores work with ``spark.ui.enabled=false``:

* the core store (``sc._jsc.sc().statusStore()``) holds per-stage task
  metrics -- run/CPU/GC time, input/output, shuffle and spill bytes;
* the SQL store (``spark._jsparkSession.sharedState().statusStore()``)
  holds per-operator SQL metrics, which is where Python-worker time
  (MapInArrow, ArrowEvalPython and the grouped-map nodes) and
  broadcast sizes live.

Counters are scoped by job group: the caller tags its own calls with a
group id, and ``group_counters`` sums every stage of every job in those
groups. The stores are fed asynchronously by the listener bus, so the
reader first waits for the bus to drain.
"""

from __future__ import annotations

import re

from py4j.protocol import Py4JJavaError

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "input_bytes",
    "output_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "broadcast_bytes",
    "gc_s",
    "executor_run_s",
    "executor_cpu_s",
    "python_worker_s",
)

_PY_TIME = "time to run Python workers"
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}
_TOTAL = re.compile(r"([-\d.,]+)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")


def metric_total(text: str | None) -> float:
    """The total of a formatted SQL metric ("1.2 s", "total (min, med,
    max ...)\\n3.4 MiB (...)") in seconds or bytes."""
    if not text:
        return 0.0
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _TOTAL.search(body)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


class StatusStores:
    def __init__(self, spark):
        self._spark = spark
        self._jsc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        self._tracker = spark.sparkContext.statusTracker()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores hold the jobs that already ran."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self._tracker.getJobIdsForGroup(group))

    def last_job_end_ms(self, job_ids: list[int]) -> int | None:
        """Epoch ms at which the last of ``job_ids`` completed."""
        store = self._jsc.statusStore()
        ends = []
        for jid in job_ids:
            done = store.job(jid).completionTime()
            if done.isDefined():
                ends.append(done.get().getTime())
        return max(ends) if ends else None

    def group_counters(self, groups: list[str]) -> dict[str, float]:
        """Summed engine counters over every job in ``groups``."""
        self.drain()
        out = dict.fromkeys(COUNTERS, 0.0)
        job_ids = [j for g in groups for j in self.job_ids(g)]
        out["jobs"] = float(len(job_ids))
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = self._tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        store = self._jsc.statusStore()
        empty_status = self._jvm.java.util.ArrayList()
        no_quantiles = self._spark.sparkContext._gateway.new_array(
            self._jvm.double, 0
        )
        for sid in sorted(stage_ids):
            try:
                attempts = store.stageData(sid, False, empty_status, False, no_quantiles)
            except Py4JJavaError:  # a skipped stage has no data in the store
                continue
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.numCompleteTasks() + st.numFailedTasks() == 0:
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["input_bytes"] += st.inputBytes()
                out["output_bytes"] += st.outputBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.diskBytesSpilled()
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        sql = self._sql_counters(set(job_ids))
        out["broadcast_bytes"] = sql["broadcast_bytes"]
        out["python_worker_s"] = sql["python_worker_s"]
        return out

    def _sql_counters(self, job_ids: set[int]) -> dict[str, float]:
        out = {"broadcast_bytes": 0.0, "python_worker_s": 0.0}
        if not job_ids:
            return out
        sql = self._spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size() - 1, -1, -1):
            ex = execs.apply(i)
            ex_jobs = {int(j) for j in _scala_keys(ex.jobs())}
            if ex_jobs and max(ex_jobs) < min(job_ids):
                break  # executions are listed oldest first
            if not ex_jobs & job_ids:
                continue
            values = sql.executionMetrics(ex.executionId())
            nodes = sql.planGraph(ex.executionId()).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    name = m.name()
                    if name == _PY_TIME:
                        key = "python_worker_s"
                    elif name == "data size" and "Broadcast" in node.name():
                        key = "broadcast_bytes"
                    else:
                        continue
                    text = values.get(m.accumulatorId())
                    out[key] += metric_total(text.get() if text.isDefined() else None)
        return out


def _scala_keys(scala_map) -> list:
    it = scala_map.keys().iterator()
    keys = []
    while it.hasNext():
        keys.append(it.next())
    return keys
