"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads: ingest_trickle and
dashboard_queries (see perfbench/README.md). With ``--trace 0`` the last
line of standard output is one JSON object carrying the end-to-end
metrics; with ``--trace 1`` it carries the per-layer metrics of a window
in which traced and untraced operations interleave, the untraced half's
wall-clock figures, and the tracing overhead, traced minus untraced, on
CPU per operation and on each wall-clock figure.
Earlier lines are a readable report. Scratch files live under
``.perfbench_work/`` and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "meshtastic_airsensor_database_spark"
DRIVER_MEM = "3g"

E2E_UNITS = {
    "cpu_ms_per_op": "ms",
    "retained_heap_mb": "MB",
    "setup_s": "s",
}
# wall-clock figures, printed in the report; the traced run carries them
# as per-layer metrics (see stats.WALL)
WALL_UNITS = {
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "work_per_s": "1/s",
}
# the names the metrics go by on each workload
ALIASES = {
    "ingest_trickle": {
        "cpu_ms_per_op": "ingest_cpu_ms_per_file",
        "latency_p50_ms": "ingest_latency_p50_ms",
        "latency_tail_ms": "ingest_latency_tail_ms",
        "work_per_s": "ingest_packets_per_s",
    },
    "dashboard_queries": {
        "cpu_ms_per_op": "query_cpu_ms_per_query",
        "latency_p50_ms": "query_latency_p50_ms",
        "latency_tail_ms": "query_latency_tail_ms",
        "work_per_s": "queries_per_s",
    },
}
LAYER_UNITS = {
    "stream.latest_offset_ms": "ms",
    "stream.get_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "dedup_state.commit_ms": "ms",
    "dedup_state.rows_total": "count",
    "dedup_state.rows_dropped_late": "count",
    "ingest.stats_s": "s",
    "ingest.dim_load_s": "s",
    "ingest.dim_upsert_s": "s",
    "ingest.dim_write_s": "s",
    "ingest.jobs_per_batch": "count",
    "sink.facts_airwise_data_s": "s",
    "sink.facts_battery_data_s": "s",
    "sink.facts_airwise_datav1_s": "s",
    "sink.dlq_write_s": "s",
    "sink.rollup_s": "s",
    "ingest.files_written_per_batch": "count",
    "ingest.bytes_written_per_batch": "bytes",
    "ingest.lake_bytes_per_input_byte": "ratio",
    "query.build_s": "s",
    "query.build_jobs": "count",
    "query.analysis_ms": "ms",
    "query.optimization_ms": "ms",
    "query.planning_ms": "ms",
    "query.action_s": "s",
    "query.action_jobs": "count",
    "query.shuffle_bytes": "bytes",
    "query.spill_bytes": "bytes",
    "gen.lateness_ms": "ms",
    "stream.backlogged_files": "count",
    "wall.latency_p50_ms": "ms",
    "wall.latency_tail_ms": "ms",
    "wall.work_per_s": "1/s",
    "overhead.cpu_ms_per_op": "ms",
    "overhead.latency_p50_ms": "ms",
    "overhead.latency_tail_ms": "ms",
    "overhead.work_per_s": "1/s",
}


def host_env(work: str) -> None:
    """Fit the engine's session to this host; must run before the
    package is imported, which reads SPARK_GRAFT_CPUS at import."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # Python workers import the package by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def start_spark(work: str):
    from meshtastic_airsensor_database_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep the JVM's temp files, and its perf-data file that
            # ignores java.io.tmpdir, out of /tmp
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
                # see stats.process_tree_cpu_s
                " -XX:-UseDynamicNumberOfCompilerThreads"
            ),
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_workload(name: str, work: str, seed: int, seconds: int, trace: bool) -> dict:
    from perfbench import dashboard, ingest

    sf_dir = dashboard.prepare(work, seed) if name == "dashboard_queries" else None
    t0 = time.time()
    spark = start_spark(work)
    try:
        if name == "ingest_trickle":
            res = ingest.run(spark, work, seed, seconds, trace)
        else:
            res = dashboard.run(spark, work, seed, seconds, trace, sf_dir)
    finally:
        stop_spark(spark)
    res["e2e"]["setup_s"] = res["setup_done"] - t0
    return res


def report(name: str, res: dict, trace: bool) -> None:
    """Readable lines ahead of the JSON result."""
    e2e, s = res["e2e"], res["e2e"]["_summary"]
    print(f"workload {name}: {res['failed']} failed of {res['attempted']} attempted "
          f"(error_rate {res['failed'] / res['attempted']:.4f})")
    for key, unit in {**E2E_UNITS, **WALL_UNITS}.items():
        label = ALIASES[name].get(key, key)
        extra = ""
        if key == "latency_p50_ms":
            extra = f"  n={s['n']}"
        elif key == "latency_tail_ms":
            extra = f"  p{s['tail_pct']:g}, n={s['n']}"
        print(f"  {label:28s} {e2e[key]:14.4f} {unit}{extra}")
    for key, value in res["report"].items():
        print(f"  {key:28s} {value}")
    if trace:
        for key, unit in LAYER_UNITS.items():
            print(f"  {key:32s} {res['layers'].get(key, 0.0):16.4f} {unit}")
    for p in res["problems"]:
        print(f"  CHECK FAILED {p}")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(ALIASES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    host_env(work)
    sys.path.insert(0, ROOT)
    try:
        res = run_workload(args.workload, work, args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report(args.workload, res, bool(args.trace))
    if args.trace:
        metrics = {k: {"value": res["layers"].get(k, 0.0), "unit": u}
                   for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
