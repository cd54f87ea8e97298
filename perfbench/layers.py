"""Per-layer readings taken from outside the program.

Everything here reads public or status-store state of a running
session; nothing is installed inside ``gasket_spark``:

* scheduler and executor counters from Spark's status store, for the
  jobs of one job group (the status store keeps only the last 1000
  stages, so list-size deltas are not a safe attribution);
* Catalyst phase times and Python-node SQL metrics from the
  QueryExecution of the frame whose action actually ran (``count()``
  would execute a *new* QueryExecution and leave the frame's own plan
  unexecuted);
* streaming progress from a StreamingQueryListener;
* block-manager residency, resident memory and fixed-work host probes.
"""

from __future__ import annotations

import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

MB = 1024.0 * 1024.0

# SQL metric names the Python exec nodes (ArrowEvalPython, MapInPandas,
# FlatMapGroupsInPandas[WithState], ...) carry.
_PY_METRICS = {
    "pythonBootTime": "python.boot_s",
    "pythonInitTime": "python.init_s",
    "pythonTotalTime": "python.compute_s",
    "pythonDataSent": "python.sent_mb",
    "pythonNumRowsReceived": "python.rows",
}


def _opt(o):
    """A Scala Option as a Python value (None when empty)."""
    return o.get() if o.isDefined() else None


def _seconds(date_opt) -> float | None:
    d = _opt(date_opt)
    return None if d is None else d.getTime() / 1000.0


def scheduler_metrics(spark, groups, wall: tuple[float, float]) -> dict:
    """Jobs, stages, tasks and executor/shuffle/io counters summed over
    every stage attempt of the jobs in ``groups``; ``sched.idle_s`` is
    the part of the ``wall`` interval (epoch seconds) during which no
    stage of those jobs was running."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    store, tracker = jsc.statusStore(), jsc.statusTracker()
    jvm, gw = sc._jvm, sc._gateway
    no_tasks, no_q = jvm.java.util.ArrayList(), gw.new_array(jvm.double, 0)
    ids = sorted({int(i) for g in groups
                  for i in tracker.getJobIdsForGroup(g)})
    out = dict.fromkeys((
        "sched.stages", "sched.tasks", "exec.run_s", "exec.cpu_s",
        "exec.gc_s", "shuffle.write_mb", "shuffle.read_mb",
        "shuffle.spill_mb", "io.input_rows", "io.input_mb",
        "io.output_mb"), 0.0)
    out["sched.jobs"] = float(len(ids))
    busy: list[tuple[float, float]] = []
    seen: set[int] = set()
    for jid in ids:
        info = _opt(tracker.getJobInfo(jid))
        if info is None:
            continue
        for sid in info.stageIds():
            if sid in seen:
                continue
            seen.add(sid)
            attempts = store.stageData(int(sid), False, no_tasks, False, no_q)
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if s.numTasks() and s.status().toString() != "SKIPPED":
                    out["sched.stages"] += 1
                out["sched.tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                out["exec.run_s"] += s.executorRunTime() / 1e3
                out["exec.cpu_s"] += s.executorCpuTime() / 1e9
                out["exec.gc_s"] += s.jvmGcTime() / 1e3
                out["shuffle.write_mb"] += s.shuffleWriteBytes() / MB
                out["shuffle.read_mb"] += s.shuffleReadBytes() / MB
                out["shuffle.spill_mb"] += (s.memoryBytesSpilled()
                                            + s.diskBytesSpilled()) / MB
                out["io.input_rows"] += s.inputRecords()
                out["io.input_mb"] += s.inputBytes() / MB
                out["io.output_mb"] += s.outputBytes() / MB
                b = _seconds(s.submissionTime())
                e = _seconds(s.completionTime())
                if b is not None and e is not None:
                    busy.append((max(b, wall[0]), min(e, wall[1])))
    out["sched.idle_s"] = (wall[1] - wall[0]) - _union(busy)
    return out


def _union(intervals) -> float:
    total, end = 0.0, float("-inf")
    for b, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(b, end)
        end = e
    return total


def plan_metrics(df) -> dict:
    """Catalyst phase times and summed Python-node SQL metrics of the
    QueryExecution ``df``'s own action ran."""
    qe = df._jdf.queryExecution()
    out = {f"python.{k}": 0.0 for k in
           ("boot_s", "init_s", "compute_s", "sent_mb", "rows")}
    phases = qe.tracker().phases()
    for phase in ("analysis", "optimization", "planning"):
        summary = _opt(phases.get(phase))
        out[f"plan.{phase}_s"] = (0.0 if summary is None
                                  else summary.durationMs() / 1e3)
    identity = df.sparkSession._jvm.System.identityHashCode
    stack, seen = [qe.executedPlan()], set()
    while stack:
        node = stack.pop()
        if identity(node) in seen:
            continue
        seen.add(identity(node))
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        metrics = node.metrics()
        for name, key in _PY_METRICS.items():
            m = _opt(metrics.get(name))
            if m is not None:
                out[key] += _scaled(m, key)
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
        subs = node.subqueries()
        stack.extend(subs.apply(i) for i in range(subs.size()))
    return out


def _scaled(metric, key: str) -> float:
    """A SQL metric in the unit of ``key`` (Python DataSource scans
    report their byte counts as custom metrics, not as "size")."""
    v, kind = float(metric.value()), metric.metricType()
    if key.endswith("_mb"):
        return v / MB
    if kind == "nsTiming":
        return v / 1e9
    if kind == "timing":
        return v / 1e3
    return v


def resident_mb(spark) -> float:
    """Block-manager residency (memory + disk) of every cached RDD."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of one process."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of this machine since boot; the steal
    share between two readings is the CPU time the hypervisor gave to
    other guests, a direct sign of a shared host's load."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def host_probe(spark) -> dict[str, float]:
    """Fixed-work host-speed probes: single-core Python, all-core JVM
    and one small shuffle. Their ratio between two run records
    estimates host drift, net of any code change. The axes are those of
    ``bench.py``'s ``_host_calibration``; the work is a fifth of its
    size and runs once, right after set-up."""
    def timed(fn) -> float:
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    def py():
        acc = 0
        for i in range(500_000):
            acc += i * i

    def jvm():
        spark.range(20_000_000).selectExpr(
            "sum(id * 2654435761 % 1000003) AS s").collect()

    def shuffle():
        spark.range(500_000).selectExpr("id % 1009 AS k") \
            .groupBy("k").count().collect()

    return {"py_1core_s": timed(py), "jvm_allcore_s": timed(jvm),
            "shuffle_s": timed(shuffle), "loadavg": list(os.getloadavg())}


class StreamingProgress(StreamingQueryListener):
    """Streaming micro-batch counters, attributed to the benchmark query
    that was running when each stream started (its ``runId`` is also
    the job group Spark sets on that stream's jobs)."""

    def __init__(self):
        self.current: str | None = None
        self.owner: dict[str, str] = {}
        self.batches: dict[str, list[tuple[float, int]]] = {}
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        with self._lock:
            self.owner[str(event.runId)] = self.current

    def onQueryProgress(self, event):
        p = event.progress
        state = sum(op.numRowsTotal for op in p.stateOperators)
        with self._lock:
            self.batches.setdefault(str(p.runId), []).append(
                (p.durationMs.get("triggerExecution", 0) / 1e3, state))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def run_ids(self, qid: str) -> list[str]:
        with self._lock:
            return [r for r, q in self.owner.items() if q == qid]

    def metrics(self, qid: str) -> dict:
        out = {"streaming.batches": 0.0, "streaming.state_rows": 0.0,
               "streaming.run_s": 0.0}
        with self._lock:
            for run in (r for r, q in self.owner.items() if q == qid):
                batches = self.batches.get(run, [])
                out["streaming.batches"] += len(batches)
                out["streaming.run_s"] += sum(b[0] for b in batches)
                out["streaming.state_rows"] += max(
                    (b[1] for b in batches), default=0)
        return out


def drain_listeners(spark, timeout_ms: int = 10_000) -> None:
    """Wait until every listener event posted so far was delivered."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)
