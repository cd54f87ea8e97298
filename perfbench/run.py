"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload llm_curate --seed 1 \
        --seconds 12 --trace 0

Runs from the root of a source checkout. One process, one client, one
query at a time on ``local[<nproc>]``:

1. derive seeded inputs (a row permutation of every fixture table) into
   a per-run scratch directory, which is also ``TMPDIR``, the Spark
   local dir and the warehouse, and is removed at the end;
2. set up: import the query registry, start the session and run two
   untimed warm-up passes over the workload's queries (``setup_s`` ends
   when the first warm-up result is back);
3. timed passes (``--trace 0``), or a pass with span wrappers and layer
   readers installed between two untimed-by-tracing passes
   (``--trace 1``).

Every execution calls ``free_session_caches`` first, is timed from
calling the query constructor until its ``toPandas()`` action returns,
and is checked against the DuckDB oracle outside the timed region.
The second-to-last stdout line is the full run record; the last line
is the summary ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
from dataclasses import asdict


def _process_start() -> float:
    """Wall-clock time this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - ticks / os.sysconf("SC_CLK_TCK"))


PROCESS_START = _process_start()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "2g"
DEFAULT_SOURCE = os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")

END_TO_END_UNITS = {"setup_s": "s", "total_s": "s", "latency_p50_s": "s",
                    "latency_tail_s": "s", "peak_rss_mb": "MB"}
# reported in the run record and folded into the summary's
# "correct"/"failed" fields (they read 0 on a healthy run)
_GATE_UNITS = {"failed_frac": "ratio", "oracle_mismatch": "count"}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "queries.build_s": "s", "queries.action_s": "s",
    "plan.analysis_s": "s", "plan.optimization_s": "s",
    "plan.planning_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.idle_s": "s",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB",
    "shuffle.spill_mb": "MB",
    "io.input_rows": "count", "io.input_mb": "MB", "io.output_mb": "MB",
    "io.read_table_s": "s",
    "python.boot_s": "s", "python.init_s": "s", "python.compute_s": "s",
    "python.sent_mb": "MB", "python.rows": "count",
    "pipeline.pipe_s": "s", "pipeline.stages": "count",
    "pipeline.command_stages": "count",
    "operators.dedup_s": "s", "operators.similarity_s": "s",
    "operators.graph_s": "s", "operators.bpe_s": "s",
    "streaming.batches": "count", "streaming.state_rows": "count",
    "streaming.run_s": "s",
    "cache.fills": "count", "cache.resident_mb": "MB",
    "trace.overhead_s": "s",
}
# span name -> per-layer metric summed over its outermost spans
_SPAN_SECONDS = {
    "io.read_table": "io.read_table_s", "pipeline.pipe": "pipeline.pipe_s",
    "operators.dedup": "operators.dedup_s",
    "operators.similarity": "operators.similarity_s",
    "operators.graph": "operators.graph_s", "operators.bpe": "operators.bpe_s",
}
_SPAN_COUNTS = {"pipeline.stage": "pipeline.stages",
                "pipeline.command_stage": "pipeline.command_stages",
                "cache.fill": "cache.fills"}


def total_s(recs: list[dict]) -> float:
    """One pass over the workload: the sum over its queries of each
    query's median wall time."""
    per_q: dict[str, list[float]] = {}
    for r in recs:
        if not r["failed"]:
            per_q.setdefault(r["query"], []).append(r["wall_s"])
    return sum(statistics.median(v) for v in per_q.values())


def _with_units(values: dict, units: dict) -> dict:
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples beyond it, as
    (value, percentile); the maximum when there are 20 samples or
    fewer, since then that percentile is not above the median."""
    xs = sorted(values)
    if len(xs) <= 20:
        return xs[-1], 100.0
    return xs[len(xs) - 11], 100.0 * (len(xs) - 10) / len(xs)


class Bench:
    """One benchmark process: session, inputs, oracle and records."""

    def __init__(self, args, run_dir: str):
        from perfbench.workloads import WORKLOADS
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.run_dir = run_dir
        self.sf_dir = os.path.join(run_dir, "data")
        self.record: dict = {"workload": args.workload, "seed": args.seed,
                             "seconds": args.seconds, "trace": args.trace,
                             "nproc": os.cpu_count(),
                             "loadavg_start": list(os.getloadavg())}
        from perfbench.layers import cpu_ticks
        self.ticks_start = cpu_ticks()
        self.spark = None
        self.oracle = None
        self.executions: list[dict] = []
        self.reference_rows: dict[str, int] = {}
        self.tracer = None
        self.listener = None
        self.spans = []

    # -- set-up ------------------------------------------------------

    def setup(self) -> None:
        from perfbench import inputs
        t0 = time.perf_counter()
        self.record["input_rows"] = inputs.derive(
            self.args.source, self.sf_dir, self.args.seed)
        inputs_s = time.perf_counter() - t0

        from gasket_spark.queries import ORACLES, QUERIES
        from gasket_spark.session import get_spark
        self.queries = QUERIES
        t1 = time.perf_counter()
        self.spark = get_spark(
            f"perfbench-{self.args.workload}",
            master=f"local[{os.cpu_count()}]",
            extra_conf={
                # a fixed, small driver heap (initial = maximum): peak
                # RSS then reflects the program, not how far a lazily
                # grown heap happened to get
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.sql.warehouse.dir":
                    os.path.join(self.run_dir, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={self.run_dir}/tmp",
            })
        self.session_start_s = time.perf_counter() - t1
        self.spark.sparkContext.setLogLevel("ERROR")
        self.record["inputs_s"] = inputs_s
        from perfbench.oracle import Oracle
        self.oracle = Oracle(self.args.source, ORACLES,
                             os.path.join(ROOT, ".perfbench", "oracle"))

    def _probe(self) -> dict:
        from perfbench.layers import host_probe
        return host_probe(self.spark)

    # -- one query execution -----------------------------------------

    def execute(self, name: str, label: str, timed: bool) -> dict:
        """Run query ``name`` once as part of pass ``label``."""
        from gasket_spark.queries import free_session_caches
        from perfbench import layers
        spark, tracer = self.spark, self.tracer
        qid = f"{self.args.workload}:{label}:{name}"
        rec: dict = {"qid": qid, "query": name, "pass": label, "timed": timed}
        self.executions.append(rec)
        free_session_caches(spark)
        spark.sparkContext.setJobGroup(qid, name)
        if tracer is not None:
            tracer.qid = self.listener.current = qid
            tracer.begin("query")
            build = tracer.begin("queries.build")
        w0, t0 = time.time(), time.perf_counter()
        try:
            df = self.queries[name](spark, self.sf_dir)
            t1 = time.perf_counter()
            if tracer is not None:
                tracer.end(build)
                tracer.begin("queries.action")
            result = df.toPandas()
            t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 - a failed query is counted
            rec.update(failed=True, error=f"{type(exc).__name__}: {exc}"[:300])
            return rec
        finally:
            if tracer is not None:
                tracer.end_all()
        w1 = time.time()
        rec.update(failed=False, wall_s=t2 - t0, build_s=t1 - t0,
                   action_s=t2 - t1, rows=len(result))
        ok, rec["digest"] = self.oracle.check(
            name, result, self.reference_rows.get(name))
        rec["ok"] = ok
        self.reference_rows.setdefault(name, len(result))
        rec["resident_mb"] = layers.resident_mb(spark)
        if tracer is not None:
            layers.drain_listeners(spark)
            groups = [qid, *self.listener.run_ids(qid)]
            rec["layers"] = {
                **layers.scheduler_metrics(spark, groups, (w0, w1)),
                **layers.plan_metrics(df),
                **self.listener.metrics(qid),
                "queries.build_s": t1 - t0, "queries.action_s": t2 - t1,
                "cache.resident_mb": rec["resident_mb"],
            }
        return rec

    def run_pass(self, label: str, timed: bool) -> list[dict]:
        return [self.execute(q, label, timed) for q in self.workload.queries]

    # -- tracing -------------------------------------------------------

    def traced_pass(self) -> list[dict]:
        """One pass with span wrappers and the streaming listener
        installed; both are removed again afterwards."""
        from perfbench import tracing
        from perfbench.layers import StreamingProgress
        self.tracer = tracing.Tracer()
        uninstall = tracing.install(self.tracer, type(self.spark.range(1)))
        self.listener = StreamingProgress()
        self.spark.streams.addListener(self.listener)
        try:
            return self.run_pass("traced", timed=True)
        finally:
            uninstall()
            self.spark.streams.removeListener(self.listener)
            self.spans, self.tracer = self.tracer.spans, None

    def layer_metrics(self, recs: list[dict]) -> dict:
        from perfbench import tracing
        out = {k: 0.0 for k in PER_LAYER_UNITS}
        for r in recs:
            for k, v in r.get("layers", {}).items():
                out[k] += v
        spans = self.spans
        for s in tracing.outermost(spans):
            if s.name in _SPAN_SECONDS:
                out[_SPAN_SECONDS[s.name]] += s.end - s.start
        for s in spans:
            if s.name in _SPAN_COUNTS:
                out[_SPAN_COUNTS[s.name]] += 1
        out["session.start_s"] = self.session_start_s
        return out

    # -- the whole run -------------------------------------------------

    def run(self) -> dict:
        self.setup()
        # set-up ends when the first warm-up result is back
        first, *rest = self.workload.queries
        self.execute(first, "warmup", timed=False)
        self.setup_s = time.time() - PROCESS_START - self.record["inputs_s"]
        self.record["host_probe_start"] = self._probe()
        for q in rest:
            self.execute(q, "warmup", timed=False)
        # a query's second execution is still 10-30 % slower than its
        # third (JIT, Python workers), so a second untimed pass pays that
        self.run_pass("warmup2", timed=False)
        if self.args.trace:
            # untraced passes on both sides of the traced one, so the
            # overhead is not confounded with the pass-to-pass warm-up
            untraced = self.run_pass("untraced", timed=True)
            traced = self.traced_pass()
            untraced += self.run_pass("untraced2", timed=True)
        else:
            n = max(1, round(self.args.seconds / self.workload.nominal_pass_s))
            untraced = [r for i in range(n)
                        for r in self.run_pass(f"p{i}", timed=True)]
        from perfbench import layers, tracing
        self.record["loadavg_end"] = list(os.getloadavg())
        steal, total = (b - a for a, b in
                        zip(self.ticks_start, layers.cpu_ticks()))
        self.record["cpu_steal_frac"] = steal / max(1, total)

        timed = [r for r in self.executions if r["timed"]]
        failed = sum(1 for r in timed if r["failed"])
        mismatches = sum(1 for r in timed if not r["failed"] and not r["ok"])
        digests: dict[str, set] = {}
        for r in self.executions:
            if not r["failed"]:
                digests.setdefault(r["query"], set()).add(r["digest"])
        unstable = sorted(q for q, d in digests.items() if len(d) > 1)
        warm_bad = [r["query"] for r in self.executions
                    if not r["timed"] and (r["failed"] or not r["ok"])]

        # end-to-end figures come from the untraced executions only
        walls = [r["wall_s"] for r in untraced if not r["failed"]]
        tail_v, tail_p = tail(walls) if walls else (0.0, 0.0)
        jvm_pid = self.spark._jvm.ProcessHandle.current().pid()
        rss = {"python": layers.vm_hwm_mb(), "jvm": layers.vm_hwm_mb(jvm_pid)}
        e2e = {
            "setup_s": self.setup_s,
            "total_s": total_s(untraced),
            "latency_p50_s": statistics.median(walls) if walls else 0.0,
            "latency_tail_s": tail_v,
            "peak_rss_mb": rss["python"] + rss["jvm"],
            "failed_frac": failed / max(1, len(timed)),
            "oracle_mismatch": mismatches,
        }
        self.record.update(
            end_to_end=_with_units(e2e, END_TO_END_UNITS | _GATE_UNITS),
            samples=len(walls), tail_percentile=tail_p, peak_rss_split_mb=rss,
            unstable_results=unstable, warmup_bad=warm_bad,
            result_digests={q: sorted(d) for q, d in digests.items()},
            executions=self.executions)
        if self.args.trace:
            metrics = self.layer_metrics(traced)
            metrics["trace.overhead_s"] = total_s(traced) - total_s(untraced)
            spans = self.spans
            self.record.update(
                per_layer=_with_units(metrics, PER_LAYER_UNITS),
                span_count=len(spans),
                span_errors=tracing.nesting_errors(spans)[:20])
            self._write_trace(spans)
            summary = _with_units(metrics, PER_LAYER_UNITS)
        else:
            summary = _with_units(e2e, END_TO_END_UNITS)
        self.record["correct"] = not (mismatches or unstable or warm_bad)
        return {"correct": self.record["correct"], "attempted": len(timed),
                "failed": failed, "metrics": summary}

    def _write_trace(self, spans) -> None:
        from perfbench import tracing
        out_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out_dir, exist_ok=True)
        self_t = tracing.self_times(spans)
        rows = [{**asdict(s), "self_s": self_t[s.id]} for s in spans]
        path = os.path.join(
            out_dir, f"{self.args.workload}-seed{self.args.seed}.json")
        with open(path, "w") as fh:
            json.dump(rows, fh)
        self.record["trace_file"] = os.path.relpath(path, ROOT)

    def close(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        if self.oracle is not None:
            self.oracle.close()
        if self.spark is None:
            return
        from pyspark import SparkContext
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def parse_args(argv):
    from perfbench.workloads import WORKLOADS
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--source", default=DEFAULT_SOURCE,
                   help="directory of the fixture tables to permute")
    return p.parse_args(argv)


def main(argv=None) -> int:
    sys.path[:0] = [ROOT]
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "gasket_spark")):
        print(f"no gasket_spark package under {ROOT}", file=sys.stderr)
        return 2
    if not os.path.isdir(args.source):
        print(f"no fixture tables at {args.source}", file=sys.stderr)
        return 2
    runs = os.path.join(ROOT, ".perfbench")
    for old in os.listdir(runs) if os.path.isdir(runs) else ():
        # directories left by runs that were killed outright
        if old.startswith("run-") and not os.path.exists(f"/proc/{old[4:]}"):
            shutil.rmtree(os.path.join(runs, old), ignore_errors=True)
    run_dir = os.path.join(runs, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # Python workers import gasket_spark on the executors; every temp
    # file (fixture caches, stream checkpoints, CDC tables) lands in
    # the run directory and goes with it.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark")
    tempfile.tempdir = None
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(args, run_dir)
    try:
        summary = bench.run()
    finally:
        try:
            bench.close()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(bench.record, default=str))
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
