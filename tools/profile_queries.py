"""Per-query profiler: isolated timing via the noop sink (computes
every column, no driver collect cost) plus `.explain("formatted")`
capture into plans/profile/.

Usage:
    python tools/profile_queries.py [sf_dir] q_a q_b ...   # subset
    python tools/profile_queries.py [sf_dir] --all          # bench headline set

Writes plans/profile/<query>_<tag>.txt (tag via --tag, default "before")
and prints one line per query: its noop-sink seconds, the median of
N runs (default 3 — SPARK_GRAFT_PROFILE_RUNS). Jobs are labelled with
the query name for UI debugging.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:]]
    tag = "before"
    if "--tag" in args:
        i = args.index("--tag")
        tag = args[i + 1]
        del args[i:i + 2]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)

    from gasket_spark.queries import QUERIES
    from gasket_spark.session import get_spark

    spark = get_spark("gasket-profile")
    spark.sparkContext.setLogLevel("ERROR")

    if args == ["--all"]:
        import bench
        names = [n for n in bench.HEADLINE if n in QUERIES]
    else:
        names = args
    runs = max(1, int(os.environ.get("SPARK_GRAFT_PROFILE_RUNS", "3")))

    # warmup: JVM/codegen + touch every table (same posture as bench)
    QUERIES["q_agg_hash"](spark, sf_dir).collect()
    from gasket_spark.io import TABLES, read_table
    for t in TABLES:
        read_table(spark, sf_dir, t).count()

    outdir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", "profile")
    os.makedirs(outdir, exist_ok=True)

    print(f"# sf_dir={sf_dir} runs={runs} tag={tag} "
          f"load={os.getloadavg()}")
    for name in names:
        if name not in QUERIES:
            print(f"{name}: NOT REGISTERED")
            continue
        sc = spark.sparkContext
        ts = []
        for i in range(runs):
            sc.setJobDescription(f"profile {name} run{i}")
            t0 = time.time()
            df = QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            ts.append(time.time() - t0)
        sc.setJobDescription(None)
        med = sorted(ts)[(len(ts) - 1) // 2]
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution
            .ExplainMode.fromString("formatted"))
        with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan)
        print(f"{name}: noop median {med:.3f}s  runs={['%.2f' % t for t in ts]}")


if __name__ == "__main__":
    main()
