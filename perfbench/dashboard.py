"""Dashboard workload: one client running seed-shuffled rounds of short
registered read queries over generated tables (a closed loop).

Each query is timed the way ``bench.run_query`` times it: builder plus a
noop-sink action, after a GC fence outside the clock. The rows of the
first warm-up round are checked against each query's DuckDB twin after
the timed rounds.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import sys
import time
import traceback

import duckdb

from meshtastic_airsensor_database_spark.plans.registry import REGISTRY
from tools.check_correctness import value_hash

from . import stats, tables
from .stats import (
    e2e_metrics,
    process_tree_cpu_s,
    retained_heap_mb,
    steady,
    traced_layers,
)

# two from each of the four query families (hourly and latest node
# reads, as-of and alignment, distribution and window statistics,
# relational), one of them among the heaviest builders and actions
QUERIES = (
    "hourly_avg_by_node", "reading_gap_detect",
    "asof_latest_view_value", "m4_downsample",
    "value_percentiles_by_type", "seasonal_anomaly_flags",
    "pricing_summary", "fact_dim_join",
)
SF = 0.01
WARMUP_MIN, WARMUP_MAX = 3, 10  # rounds
ROUND_S = 4.0  # about one warm round on 4 cores, CPU steal included
LAYER_KEYS = (
    "query.build_s", "query.build_jobs", "query.analysis_ms",
    "query.optimization_ms", "query.planning_ms", "query.action_s",
    "query.action_jobs", "query.shuffle_bytes", "query.spill_bytes",
)


def prepare(work: str, seed: int) -> str:
    return tables.write(seed, SF, os.path.join(work, "tables"))


def _group_jobs(sc, group: str) -> list[int]:
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _stage_bytes(sc, job_ids: list[int]) -> tuple[int, int]:
    """Shuffle-write and spilled bytes over the stages of these jobs."""
    store = sc._jsc.sc().statusStore()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    shuffle = spill = 0
    seen = set()
    for j in job_ids:
        for s in conv.asJava(store.job(j).stageIds()):
            if s in seen:
                continue
            seen.add(s)
            sd = store.lastStageAttempt(s)
            shuffle += sd.shuffleWriteBytes()
            spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return shuffle, spill


def _phase_ms(df) -> dict[str, float]:
    """Catalyst phase times of the query's own plan, planned outside
    the timed region."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[f"query.{name}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


class Client:
    def __init__(self, spark, sf_dir: str, seed: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.sf_dir = sf_dir
        self._rng = random.Random(seed)
        self._n = 0
        self.failed = 0
        self.attempted = 0
        self.results: dict[str, tuple[list[str], list[tuple]]] = {}

    def query(self, name: str, traced: bool, keep: bool = False) -> dict | None:
        """Run one query; returns its record, or None if it raised.
        ``keep`` collects the rows for the output check instead of
        writing them to the noop sink."""
        self.attempted += 1
        tag = f"perfbench-{self._n}"
        self._n += 1
        try:
            if traced:
                self.sc.setJobGroup(tag + "-build", name)
            t0 = time.perf_counter()
            df = REGISTRY[name].builder(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            if traced:
                self.sc.setJobGroup(tag + "-action", name)
            if keep:
                self.results[name] = (df.columns, [tuple(r) for r in df.collect()])
            else:
                df.write.mode("overwrite").format("noop").save()
            t2 = time.perf_counter()
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        finally:
            if traced:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
        rec = {"name": name, "latency_s": t2 - t0}
        if traced:
            build_jobs = _group_jobs(self.sc, tag + "-build")
            action_jobs = _group_jobs(self.sc, tag + "-action")
            shuffle, spill = _stage_bytes(self.sc, build_jobs + action_jobs)
            rec.update({
                "query.build_s": t1 - t0,
                "query.build_jobs": len(build_jobs),
                "query.action_s": t2 - t1,
                "query.action_jobs": len(action_jobs),
                "query.shuffle_bytes": shuffle,
                "query.spill_bytes": spill,
            })
            rec.update(_phase_ms(df))
        return rec

    def round(self, traced: bool = False, keep: bool = False) -> tuple[float, float, list[dict]]:
        """One shuffled pass over QUERIES: its wall seconds, its CPU ms
        per query and the records of the queries that ran."""
        order = list(QUERIES)
        self._rng.shuffle(order)
        # GC fence outside the clock, as in bench.run_query, once a round
        self.spark._jvm.System.gc()
        c0, t0 = process_tree_cpu_s(), time.perf_counter()
        recs = [self.query(q, traced, keep) for q in order]
        wall = time.perf_counter() - t0
        cpu_ms = (process_tree_cpu_s() - c0) * 1000.0 / len(order)
        return wall, cpu_ms, [r for r in recs if r is not None]

    def window(self, seconds: float, trace: bool) -> tuple[list, list]:
        """A fixed number of rounds, ROUND_S of query time each on the
        reference host, so every run and every commit compares the
        same samples; traced, twice as many with every other round
        traced. Returns the untraced and the traced halves, each as its
        records and its CPU ms per query of every round."""
        rounds = max(1, math.ceil(seconds / ROUND_S))
        plain: tuple[list, list] = ([], [])
        traced: tuple[list, list] = ([], [])
        for k in range(2 * rounds if trace else rounds):
            on = trace and k % 2 == 1
            _, cpu_ms, recs = self.round(on)
            half = traced if on else plain
            half[0].extend(recs)
            half[1].append(cpu_ms)
        return plain, traced


def _e2e(half: tuple[list, list]) -> dict:
    recs, cpu_ms = half
    lat = [r["latency_s"] * 1000.0 for r in recs]
    # closed loop: queries per second of query time
    return e2e_metrics(lat, len(lat), sum(lat) / 1000.0, cpu_ms)


def _per_query_p50(recs: list[dict]) -> dict[str, float]:
    by_name: dict[str, list[float]] = {}
    for r in recs:
        by_name.setdefault(r["name"], []).append(r["latency_s"] * 1000.0)
    return {q: round(statistics.median(v), 1) for q, v in by_name.items()}


def check(sf_dir: str, results: dict) -> list[str]:
    """Each query's order-insensitive hash against its DuckDB twin. A
    query that raised in the cold round has no rows and is not checked:
    it already counts as failed."""
    con = duckdb.connect()
    try:
        for t in tables.TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        problems = []
        for name, (cols, rows) in results.items():
            ores = con.sql(REGISTRY[name].oracle)
            if value_hash(cols, rows) != value_hash(list(ores.columns), ores.fetchall()):
                problems.append(f"{name}: hash differs from its DuckDB twin")
        return problems
    finally:
        con.close()


def run(spark, work: str, seed: int, seconds: int, trace: bool, sf_dir: str) -> dict:
    client = Client(spark, sf_dir, seed)
    # the first, cold round collects the rows the output check compares
    warm = [client.round(keep=True)[0] * 1000.0]
    while not steady(warm, WARMUP_MIN) and len(warm) < WARMUP_MAX:
        warm.append(client.round()[0] * 1000.0)
    setup_done = time.time()
    plain, traced = client.window(seconds, trace)
    e2e = _e2e(plain)
    e2e["retained_heap_mb"] = retained_heap_mb(spark)
    layers: dict[str, float] = {}
    if trace:
        layers = traced_layers(e2e, _e2e(traced))
        layers.update({k: stats.mean([r[k] for r in traced[0]]) for k in LAYER_KEYS})
    problems = check(sf_dir, client.results)
    return {
        "setup_done": setup_done,
        "attempted": client.attempted + len(client.results),
        "failed": client.failed + len(problems),
        "problems": problems,
        "e2e": e2e,
        "layers": layers,
        "report": {
            "queries_per_round": len(QUERIES),
            "rounds": len(plain[1]),
            "cpu_ms_per_query_by_round": [round(c, 1) for c in plain[1]],
            "warmup_rounds": len(warm),
            "warmup_round_ms": [round(w, 1) for w in warm],
            "query_p50_ms": _per_query_p50(plain[0]),
        },
    }
