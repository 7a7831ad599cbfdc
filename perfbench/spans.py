"""Per-span Spark runtime counters for the traced benchmark mode.

A span wraps one call into a public function of the package, or one
action that materializes its output. Each span runs under its own Spark
job group; when it ends, the span's jobs are looked up in the status
store (per stage: tasks, executor run/CPU time, input and shuffle bytes)
and the SQL executions it started are read for their Python-worker
metrics. Everything works with ``spark.ui.enabled=false``.

With tracing off, :meth:`Tracer.span` still measures wall time but
touches no Spark state.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

SPARK_COUNTERS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.input_bytes", "spark.shuffle_bytes",
    "spark.python_worker_s", "spark.python_bytes_sent",
)

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
    "TiB": 1024.0 ** 4,
}
# SQL metrics of the Python exec nodes (ArrowEvalPython,
# FlatMapGroupsInPandas, MapInPandas, ...), summed over tasks and nodes.
# Python nodes pipelined in one stage run concurrently, so their times
# overlap; "initialize" also counts waiting for input and is left out.
_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"


def _parse_metric(text: str) -> float:
    """``"2.3 s"`` or ``"total (min, ...)\\n61 ms (12 ms, ...)"`` -> SI value."""
    num, unit = text.strip().splitlines()[-1].split()[:2]
    return float(num.replace(",", "")) * _UNITS[unit]


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.wall: dict[str, float] = defaultdict(float)
        self.counts: dict[str, dict[str, float]] = defaultdict(
            lambda: dict.fromkeys(SPARK_COUNTERS, 0.0)
        )
        self._n = 0
        self.spark = spark
        if spark is not None:
            self._sc = spark.sparkContext
            self._store = self._sc._jsc.sc().statusStore()
            self._sql = spark._jsparkSession.sharedState().statusStore()

    def reset(self) -> None:
        self.wall.clear()
        self.counts.clear()

    @contextmanager
    def span(self, name: str):
        if not self.enabled or self.spark is None:
            t0 = time.perf_counter()
            try:
                yield
            finally:
                self.wall[name] += time.perf_counter() - t0
            return
        self._n += 1
        group = f"perfbench-{self._n}"
        self._drain()
        self._last_exec = self._max_exec_id()  # skip work done outside spans
        self._sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall[name] += time.perf_counter() - t0
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._collect(name, group)

    def _drain(self) -> None:
        # the status store is fed by the asynchronous listener bus
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def _collect(self, name: str, group: str) -> None:
        self._drain()
        c = self.counts[name]
        tracker = self._sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            c["spark.jobs"] += 1
            if info is None:
                continue
            for sid in info.stageIds:
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # stage never submitted
                if st.status().toString() == "SKIPPED":
                    continue
                c["spark.stages"] += 1
                c["spark.tasks"] += st.numCompleteTasks()
                c["spark.executor_run_s"] += st.executorRunTime() / 1e3
                c["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
                c["spark.input_bytes"] += st.inputBytes()
                c["spark.shuffle_bytes"] += st.shuffleWriteBytes()
        seen: set[int] = set()
        for eid in self._new_exec_ids():
            self._collect_sql(c, eid, seen)

    def _max_exec_id(self) -> int:
        n = int(self._sql.executionsCount())
        if n == 0:
            return -1
        return int(self._sql.executionsList(n - 1, 1).apply(0).executionId())

    def _new_exec_ids(self) -> list[int]:
        last = self._last_exec
        n = int(self._sql.executionsCount())
        want = 16
        while True:
            lo = max(0, n - want)
            lst = self._sql.executionsList(lo, n - lo)
            ids = [int(lst.apply(i).executionId()) for i in range(lst.size())]
            if lo == 0 or not ids or min(ids) <= last:
                break
            want *= 4
        new = sorted(i for i in ids if i > last)
        if new:
            self._last_exec = new[-1]
        return new

    def _collect_sql(self, c: dict[str, float], eid: int, seen: set[int]) -> None:
        values = self._sql.executionMetrics(eid)
        nodes = self._sql.planGraph(eid).allNodes()
        for k in range(nodes.size()):
            metrics = nodes.apply(k).metrics()
            for q in range(metrics.size()):
                m = metrics.apply(q)
                mname = m.name()
                if mname not in (_PY_TIME, _PY_SENT):
                    continue
                if m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                key = "spark.python_worker_s" if mname == _PY_TIME else (
                    "spark.python_bytes_sent")
                c[key] += _parse_metric(v.get())

    def totals(self) -> dict[str, float]:
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        for c in self.counts.values():
            for k, v in c.items():
                out[k] += v
        return out
