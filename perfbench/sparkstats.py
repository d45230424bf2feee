"""What Spark and the OS can tell about a run, read from outside the package.

* ``Phase`` runs one action with a wall-clock timeout and exception
  capture, and counts the jobs and stages it launched.  The loop is
  closed, so every job started while a phase runs is that phase's own:
  its jobs are the range of job ids it spans, micro-batches of a stream
  the action runs included (a stream sets its own job group, so job
  groups would miss them).
* ``sql_metrics`` sums the SQL metrics of finished executions from the
  SQL status store: the Python-node metrics (boot, init and total time,
  data sent and received, rows received) and shuffle bytes written.
* ``tree_hwm_mb`` sums ``VmHWM`` over the driver JVM and its Python workers.
* ``probe`` is the host-contention probe: fixed work per slice, fanned out
  to ``defaultParallelism`` slices and compared with a single slice.
"""

from __future__ import annotations

import os
import re
import threading
import time

import pandas as pd  # resolves the probe UDF's type hints

_UNITS = {
    "": 1.0, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}

# SQL metric display name → (key, scale to the reported unit)
_PYTHON_METRICS = {
    "time to run Python workers": ("python_total_time_s", 1.0),
    "time to start Python workers": ("python_boot_time_s", 1.0),
    "time to initialize Python workers": ("python_init_time_s", 1.0),
    "data sent to Python workers": ("data_sent_mb", 2.0**-20),
    "data returned from Python workers": ("data_received_mb", 2.0**-20),
}
_PYTHON_KEYS = [k for k, _ in _PYTHON_METRICS.values()] + ["rows_received"]


class QueryFailed(Exception):
    pass


class Phase:
    """One action under a wall-clock timeout; ``jobs`` is the range of job
    ids it launched."""

    def __init__(self, spark, fn, timeout_s: float):
        self.sc = spark.sparkContext
        self.fn, self.timeout_s = fn, timeout_s
        self.timed_out = self.done = False

    def _cancel(self) -> None:
        # Every running job is this phase's own (closed loop).  A stream
        # stalled outside a job is bounded only by its builder's own wait.
        if not self.done:
            self.timed_out = True
            self.sc.cancelAllJobs()

    def run(self):
        timer = threading.Timer(self.timeout_s, self._cancel)
        timer.daemon = True
        first = next_job_id(self.sc)
        timer.start()
        self.start = time.perf_counter()
        try:
            return self.fn()
        except Exception as exc:  # noqa: BLE001 — every failure is counted
            why = "timeout" if self.timed_out else f"{type(exc).__name__}: {str(exc)[:300]}"
            raise QueryFailed(why) from exc
        finally:
            self.end = time.perf_counter()
            self.done = True
            timer.cancel()
            self.jobs = range(first, next_job_id(self.sc))

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    def jobs_and_stages(self) -> tuple[int, int]:
        """Jobs this phase launched, and the stages among them that ran tasks."""
        tracker = self.sc.statusTracker()
        stages = set()
        for jid in self.jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(
                    sid for sid in info.stageIds
                    if (st := tracker.getStageInfo(sid)) is not None and st.numCompletedTasks > 0
                )
        return len(self.jobs), len(stages)


def next_job_id(sc) -> int:
    """The id the scheduler gives the next job; ids are sequential."""
    return sc._jsc.sc().dagScheduler().nextJobId()


def _parse(text: str) -> float:
    """A formatted SQL metric: '1,200', '12 ms', or
    'total (min, med, max (...))\\n4.4 s (1.1 s, ...)'."""
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", text.split("\n")[-1])
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0) if m else 0.0


def drain_listeners(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _store(spark):
    return spark._jsparkSession.sharedState().statusStore()


def last_execution_id(spark) -> int:
    drain_listeners(spark)
    execs = _store(spark).executionsList()
    return execs.apply(execs.size() - 1).executionId() if execs.size() else -1


def execution_jobs(spark, after_id: int = -1) -> dict[int, set[int]]:
    """Finished SQL executions newer than ``after_id`` → their job ids."""
    drain_listeners(spark)
    out = {}
    execs = _store(spark).executionsList()
    for i in range(execs.size()):
        ex = execs.apply(i)
        if ex.executionId() > after_id:
            jobs, it = set(), ex.jobs().iterator()
            while it.hasNext():
                jobs.add(it.next()._1())
            out[ex.executionId()] = jobs
    return out


def sql_metrics(spark, execution_ids) -> dict[str, float]:
    """Sum the Python-node and shuffle metrics of the given executions."""
    store = _store(spark)
    out = dict.fromkeys(_PYTHON_KEYS + ["shuffle_write_mb"], 0.0)
    for eid in execution_ids:
        values, it = {}, store.executionMetrics(eid).iterator()
        while it.hasNext():
            kv = it.next()
            values[kv._1()] = kv._2()
        nodes = store.planGraph(eid).allNodes()
        for n in range(nodes.size()):
            metrics = nodes.apply(n).metrics()
            named: dict[str, float] = {}
            for j in range(metrics.size()):
                m = metrics.apply(j)
                if m.accumulatorId() in values:
                    named[m.name()] = named.get(m.name(), 0.0) + _parse(values[m.accumulatorId()])
            if "time to run Python workers" in named:
                for name, (key, scale) in _PYTHON_METRICS.items():
                    out[key] += named.get(name, 0.0) * scale
                out["rows_received"] += named.get("number of output rows", 0.0)
            out["shuffle_write_mb"] += named.get("shuffle bytes written", 0.0) * 2.0**-20
    return out


def jvm_gc_s(spark) -> float:
    """Time the driver JVM has spent in garbage collection so far."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_hwm_mb(root_pid: int) -> dict[str, float]:
    """Peak resident memory (``VmHWM``) of a process and of all its
    descendants, in MB, with the number of descendants."""
    kids, todo, hwm = _children(), [root_pid], {}
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        hwm[pid] = int(line.split()[1]) / 1024.0
        except OSError:
            pass
    root = hwm.pop(root_pid, 0.0)
    return {"total": root + sum(hwm.values()), "root": root, "children": len(hwm)}


def _probe_df(spark, kind: str, slices: int):
    from pyspark.sql import functions as F

    if kind == "jvm":
        return spark.range(0, slices * 2_000_000, 1, slices).selectExpr("sum(hash(id)) AS h")
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _work(x: pd.Series) -> pd.Series:
        import numpy as np

        v = x.to_numpy(dtype="float64")
        for _ in range(100):
            v = np.sqrt(v * v + 1.0)
        return pd.Series(v)

    return spark.range(0, slices * 50_000, 1, slices).select(F.sum(_work("id")).alias("s"))


def probe(spark) -> dict[str, float]:
    """Wall time of the fan-out run and its ratio to one slice of the same
    per-slice work; a ratio near 1 means the cores were free.  Each pair
    runs twice and the second is kept, so JIT and worker start-up drop out."""
    n = spark.sparkContext.defaultParallelism
    out = {}
    for kind in ("jvm", "py"):
        times = []
        for slices in (1, n, 1, n):
            df = _probe_df(spark, kind, slices)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        one, fan = times[-2:]
        out[f"{kind}_s"] = round(fan, 4)
        out[f"{kind}_ratio"] = round(fan / one, 3)
    return out
