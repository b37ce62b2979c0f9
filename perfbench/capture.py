"""Attribute Spark work to one call of the program, read from Spark's
two in-process status stores (no web UI, no REST endpoint).

A call opens a job-id window: :meth:`StatusCapture.mark` reads the
scheduler's next job id before the call, after its lazy frame is built,
and after the forcing action. :meth:`StatusCapture.window` then waits
for the listener bus to drain and reads, for the jobs in that window:

- ``sc._jsc.sc().statusStore()``: jobs, stages (each stage attempt is
  counted once per capture object, so a stage reused by a later job is
  not counted twice), tasks, executor run / CPU time, shuffle bytes;
- ``spark._jsparkSession.sharedState().statusStore()``: SQL plan-node
  metrics of the executions that ran those jobs, including the
  Python-worker time of the Arrow / pandas UDF nodes.

Both stores are populated with ``spark.ui.enabled=false``. Reading
them runs no Spark job.
"""

from __future__ import annotations

import re

#: Keys of the dict :meth:`StatusCapture.window` returns.
WINDOW_KEYS = (
    "jobs",
    "eager_jobs",
    "stages",
    "tasks",
    "exec_run_s",
    "exec_cpu_s",
    "shuffle_mb",
    "pyworker_s",
    "job_spans",
)

_PYWORKER_METRIC = "time to run Python workers"
_UNITS_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_duration_s(text: str) -> float:
    """Seconds in a formatted SQL timing metric: either ``"12 ms"`` or
    ``"total (min, med, max (stageId: taskId))\\n9.7 s (2.4 s, ...)"``."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([\d.,]+)\s*(ms|s|m|h)\b", line)
    if not m:
        raise ValueError(f"unparsed timing metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS_S[m.group(2)]


class StatusCapture:
    """Reads the status stores of one live SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        self._jsc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        self._seen_stages: set[tuple[int, int]] = set()
        self._seen_exec = -1

    # ----------------------------------------------------------- window
    def mark(self) -> int:
        """The id the next submitted job will get."""
        return int(self._jsc.dagScheduler().nextJobId())

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(60_000)

    def window(self, start: int, mid: int, end: int) -> dict:
        """Work of jobs ``start <= id < end``; jobs below ``mid`` are
        counted as eager (submitted while the call built its frame)."""
        self._drain()
        store = self._jsc.statusStore()
        out = dict(jobs=0, eager_jobs=0, stages=0, tasks=0, exec_run_s=0.0, exec_cpu_s=0.0,
                   shuffle_mb=0.0, pyworker_s=0.0, job_spans=[])
        job_ids = set(range(start, end))
        no_status = self._jvm.java.util.ArrayList()
        no_quantiles = self.spark.sparkContext._gateway.new_array(self._jvm.double, 0)
        for jid in sorted(job_ids):
            try:
                job = store.job(jid)
            except Exception:  # evicted or never registered
                continue
            out["jobs"] += 1
            out["eager_jobs"] += int(jid < mid)
            sub, done = job.submissionTime(), job.completionTime()
            out["job_spans"].append(
                {
                    "job_id": jid,
                    "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                    "end": done.get().getTime() / 1e3 if done.isDefined() else None,
                    "status": str(job.status()),
                }
            )
            sids = job.stageIds()
            for i in range(sids.size()):
                attempts = store.stageData(sids.apply(i), False, no_status, False, no_quantiles)
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    key = (int(st.stageId()), int(st.attemptId()))
                    if key in self._seen_stages or str(st.status()) == "SKIPPED":
                        continue
                    self._seen_stages.add(key)
                    out["stages"] += 1
                    out["tasks"] += int(st.numCompleteTasks()) + int(st.numFailedTasks())
                    out["exec_run_s"] += st.executorRunTime() / 1e3
                    out["exec_cpu_s"] += st.executorCpuTime() / 1e9
                    out["shuffle_mb"] += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / 2**20
        out["pyworker_s"] = self._pyworker_s(job_ids)
        return out

    def _pyworker_s(self, job_ids: set[int]) -> float:
        """Python-worker seconds of the SQL executions that ran any of
        ``job_ids`` (executions newer than the last one read)."""
        if not job_ids:
            return 0.0
        sql = self.spark._jsparkSession.sharedState().statusStore()
        count = int(sql.executionsCount())
        look = min(count, 500)
        execs = sql.executionsList(count - look, look)
        total = 0.0
        for i in range(execs.size()):
            ex = execs.apply(i)
            eid = int(ex.executionId())
            if eid <= self._seen_exec:
                continue
            ran = ex.jobs().keySet().iterator()
            ids = set()
            while ran.hasNext():
                ids.add(int(ran.next()))
            if not ids & job_ids:
                continue
            self._seen_exec = max(self._seen_exec, eid)
            ms = ex.metrics()
            accs = {int(ms.apply(k).accumulatorId()) for k in range(ms.size()) if ms.apply(k).name() == _PYWORKER_METRIC}
            if not accs:
                continue
            values = sql.executionMetrics(eid).iterator()
            while values.hasNext():
                kv = values.next()
                if int(kv._1()) in accs:
                    total += parse_duration_s(kv._2())
        return total

    # ------------------------------------------------------------ cache
    def cache_entries(self) -> set[int]:
        """Identity hashes of the CacheManager's current entries."""
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        field = cm.getClass().getDeclaredField("cachedData")
        field.setAccessible(True)
        entries = field.get(cm)
        ident = self._jvm.System.identityHashCode
        return {int(ident(entries.apply(i))) for i in range(entries.size())}
