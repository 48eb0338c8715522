"""Run any registered query by name and print its result.

    python tools/run_query.py NAME [SF_DIR] [--limit N] [--explain | --metrics]
    python tools/run_query.py --trace NAME [NAME ...] [SF_DIR] [--reps N]

The operational entry point for ad-hoc use of the declared query
surface (the same registry `__spark_entry__.queries()` exposes).
`--explain` prints the formatted physical plan through
`dump_plans.normalize_plan`, so plan files written before and after a
change diff cleanly. `--metrics` EXECUTES the query and prints the
per-operator runtime metrics (output rows, shuffle/spill bytes, scan
stats): the EXPLAIN ANALYZE twin (a plan can look right and still
spill). `--trace` runs each query once untimed, then `--reps` times
through `trace.trace_query` (the trace `bench.py` records), and prints
ONE JSON line `{cpus, sf_dir, queries: {name: fastest record}}`; run
it at two `SPARK_GRAFT_CPUS` on one dir for per-query core scaling.
`--list` enumerates every query with its one-line description and
whether it has a DuckDB oracle twin.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    p = argparse.ArgumentParser(prog="run_query")
    p.add_argument("name", nargs="*",
                   help="registered query name (several with --trace)")
    p.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    p.add_argument("--limit", type=int, default=20)
    p.add_argument("--explain", action="store_true",
                   help="print the normalized formatted physical plan, not rows")
    p.add_argument("--metrics", action="store_true",
                   help="execute and print per-operator runtime metrics")
    p.add_argument("--trace", action="store_true",
                   help="print each query's per-query trace as one JSON line")
    p.add_argument("--reps", type=int, default=2,
                   help="traced runs per query; the fastest is printed")
    p.add_argument("--list", action="store_true", dest="list_queries",
                   help="list every registered query")
    args = p.parse_args()

    from meshtastic_airsensor_database_spark.plans import REGISTRY

    if args.list_queries:
        for name, q in REGISTRY.items():
            twin = "oracle" if q.oracle is not None else "rows-only"
            print(f"{name:36s} [{twin}] {q.description}")
        return 0
    # NAME... swallows every positional; a last one that is a data dir
    # (not a query name) is SF_DIR
    names, sf_dir = args.name, args.sf_dir
    if names and names[-1] not in REGISTRY and os.path.isdir(names[-1]):
        *names, sf_dir = names
    if not names:
        p.error("NAME required (or --list)")
    if (len(names) > 1 and not args.trace) or args.reps < 1:
        p.error("several names need --trace; --reps must be at least 1")
    for name in names:
        if name not in REGISTRY:
            print(f"unknown query {name!r}; try --list", file=sys.stderr)
            return 2

    from meshtastic_airsensor_database_spark.session import get_spark

    spark = get_spark("run_query")
    spark.sparkContext.setLogLevel("ERROR")
    if args.trace:
        from meshtastic_airsensor_database_spark.trace import trace_query

        best = {}
        for name in names:
            builder = REGISTRY[name].builder
            try:  # warm-up; the traced runs surface real errors
                builder(spark, sf_dir).write.mode("overwrite").format("noop").save()
            except Exception as e:
                print(f"warm-up {name}: {e}", file=sys.stderr)
            runs = [trace_query(spark, builder, sf_dir) for _ in range(args.reps)]
            best[name] = min(runs, key=lambda r: r["query.build_s"] + r["query.action_s"])
        cpus = spark.sparkContext.defaultParallelism
        print(json.dumps({"cpus": cpus, "sf_dir": sf_dir, "queries": best}))
        return 0
    df = REGISTRY[names[0]].builder(spark, sf_dir)
    if args.explain:
        from tools.dump_plans import normalize_plan

        qe = df._jdf.queryExecution()
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        print(normalize_plan(qe.explainString(mode)))
    elif args.metrics:
        # force full execution of THIS DataFrame's QueryExecution (a
        # write/save would plan a fresh one whose metrics we can't
        # see): toRdd().count() runs every operator distributed, no
        # decoded rows reach the driver. Walk the plan only after —
        # metrics materialize on execution and AQE re-plans mid-run.
        qe = df._jdf.queryExecution()
        qe.toRdd().count()
        node = qe.executedPlan()

        def walk(n, depth=0):
            name = n.nodeName()
            if name == "AdaptiveSparkPlan":
                # AQE hides the (re-planned) tree behind the adaptive
                # root; after execution its final plan is available
                walk(n.executedPlan(), depth)
                return
            if name.endswith("QueryStage"):
                # QueryStageExec wraps each materialized AQE stage
                walk(n.plan(), depth)
                return
            shown = []
            mets = n.metrics()
            it = mets.iterator()
            while it.hasNext():
                kv = it.next()
                key, metric = kv._1(), kv._2()
                if metric.value() > 0 and any(
                    s in key for s in ("numOutputRows", "spill", "bytes",
                                       "numFiles", "numPartitions", "numRows")
                ):
                    shown.append(f"{key}={metric.value():,}")
            print("  " * depth + f"{name}" + (f"  [{', '.join(shown)}]" if shown else ""))
            for i in range(n.children().length()):
                walk(n.children().apply(i), depth + 1)

        walk(node)
    else:
        df.show(args.limit, truncate=False)
        print(f"({df.count()} rows total)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
