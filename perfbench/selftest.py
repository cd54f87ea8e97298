"""Fast self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py [fixture_dir]

Runs every workload once with tracing on (two warm-up, one untimed and
one traced pass) over a seeded permutation of the sf0.001 tables and
asserts that every end-to-end and per-layer metric is emitted with its
unit, that no query failed or mismatched its oracle, and that the
traced spans nest: self time >= 0 and every child inside its parent's
interval. Exits non-zero on the first failed workload.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT]

from perfbench import run, tracing  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def check_helpers() -> None:
    xs = [float(i) for i in range(1, 31)]
    assert run.tail(xs) == (20.0, 100.0 * 20 / 30), run.tail(xs)
    assert run.tail(xs[:10]) == (10.0, 100.0)
    assert run.tail(xs[:15]) == (15.0, 100.0)
    assert run.tail(xs[:21]) == (11.0, 100.0 * 11 / 21)
    spans = [tracing.Span(0, "query", 0.0, 10.0, None, "q"),
             tracing.Span(1, "queries.build", 1.0, 4.0, 0, "q"),
             tracing.Span(2, "io.read_table", 2.0, 3.0, 1, "q"),
             tracing.Span(3, "queries.action", 4.0, 9.0, 0, "q")]
    assert tracing.self_times(spans) == {0: 2.0, 1: 2.0, 2: 1.0, 3: 5.0}
    assert tracing.nesting_errors(spans) == []
    bad = spans + [tracing.Span(4, "io.read_table", 3.5, 4.5, 1, "q")]
    assert tracing.nesting_errors(bad), "child outside parent not caught"


def check_workload(name: str, source: str) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
           "--seed", "7", "--seconds", "1", "--trace", "1",
           "--source", source]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    if proc.returncode != 0:
        return [f"exit code {proc.returncode}: {proc.stderr[-2000:]}"]
    record_line, summary_line = proc.stdout.strip().split("\n")[-2:]
    record, summary = json.loads(record_line), json.loads(summary_line)
    errors = []
    for section, units in (("end_to_end", run.END_TO_END_UNITS),
                           ("per_layer", run.PER_LAYER_UNITS)):
        got = record.get(section, {})
        errors += [f"{section} metric {k} missing or without unit {u}"
                   for k, u in units.items()
                   if got.get(k, {}).get("unit") != u
                   or not isinstance(got[k].get("value"), (int, float))]
    if set(summary["metrics"]) != set(run.PER_LAYER_UNITS):
        errors.append("traced summary does not list every per-layer metric")
    gates = {k: record["end_to_end"][k]["value"]
             for k in ("oracle_mismatch", "failed_frac")}
    if any(gates.values()):
        bad = [e for e in record["executions"] if not e.get("ok")]
        errors.append(f"{gates}: {bad}")
    if not summary["correct"]:
        errors.append("run reported correct=false")
    if not record["span_count"]:
        errors.append("no spans recorded")
    errors += record["span_errors"]
    return errors


def main() -> int:
    source = (sys.argv[1] if len(sys.argv) > 1 else
              os.path.join(os.path.expanduser("~"), "testdata", "sf0.001"))
    check_helpers()
    for name in WORKLOADS:
        errors = check_workload(name, source)
        print(f"{'ok  ' if not errors else 'FAIL'} {name}")
        for e in errors:
            print(f"     {e}")
        if errors:
            return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
