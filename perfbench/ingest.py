"""Ingest workload: generated packet files through ``run_ingest_stream``.

An open loop: the runner lands one small file per period, and
each file is timed from when it was due to the end of the micro-batch
that committed it. The stream runs the deployed topology: watermark
dedup on, the default ledgered batch processor, one file per trigger.
"""

from __future__ import annotations

import os
import statistics
import time
from datetime import datetime, timezone

from pyspark.errors import StreamingQueryException

from meshtastic_airsensor_database_spark.streaming.ingest import (
    IngestPaths,
    idempotent_batch_processor,
    run_ingest_stream,
)

from .packets import PacketGenerator
from .stats import (
    e2e_metrics,
    process_tree_cpu_s,
    retained_heap_mb,
    steady,
    traced_layers,
)

FACT_TABLES = ("airwise_data", "battery_data", "airwise_datav1")
CHECKS = len(FACT_TABLES) + 2  # per lake: facts, quarantine, rollup
STREAM_PHASES = {
    "stream.latest_offset_ms": "latestOffset",
    "stream.get_batch_ms": "getBatch",
    "stream.query_planning_ms": "queryPlanning",
    "stream.wal_commit_ms": "walCommit",
    "stream.add_batch_ms": "addBatch",
    "stream.commit_offsets_ms": "commitOffsets",
}
# phase_clock names written by process_packet_batch
CLOCK_PHASES = {
    "ingest.stats_s": "stats",
    "ingest.dim_load_s": "dim_load",
    "ingest.dim_upsert_s": "dim_upsert",
    "ingest.dim_write_s": "dim_write",
    "sink.facts_airwise_data_s": "facts_airwise_data",
    "sink.facts_battery_data_s": "facts_battery_data",
    "sink.facts_airwise_datav1_s": "facts_airwise_datav1",
    "sink.dlq_write_s": "dlq_write",
    "sink.rollup_s": "rollup",
}

# one file of PACKETS_PER_FILE every PERIOD_S: the period sits well
# above a warm batch plus the no-data batch that follows it (2-3.5 s on
# 4 cores, slow phases included), so the backlog stays empty and a
# file's latency is the batch that commits it; files that still waited
# behind an earlier trigger are counted
PACKETS_PER_FILE = 100
PERIOD_S = 5.0
WARMUP_MIN, WARMUP_MAX = 3, 12  # files


class Deployment:
    """One ingest deployment: landing dir, lake and its packet source."""

    def __init__(self, root: str, seed: int):
        self.paths = IngestPaths(
            os.path.join(root, "landing"), os.path.join(root, "lake")
        )
        self.staging = os.path.join(root, "staging")
        os.makedirs(self.paths.landing_dir)
        os.makedirs(self.staging)
        self.gen = PacketGenerator(seed)
        self.landed_bytes = 0
        self.files = 0

    def stage(self) -> str:
        """Write the next file outside the landing dir; returns its name."""
        data = "".join(
            line + "\n" for line in self.gen.lines(PACKETS_PER_FILE)
        ).encode()
        name = f"p{self.files:05d}.jsonl"
        self.files += 1
        with open(os.path.join(self.staging, name), "wb") as fh:
            fh.write(data)
        self.landed_bytes += len(data)
        return name

    def publish(self, name: str) -> float:
        """Land a staged file with one rename, so the file source never
        lists a partial file; returns when it landed."""
        os.rename(
            os.path.join(self.staging, name),
            os.path.join(self.paths.landing_dir, name),
        )
        return time.time()

    def lake_files(self) -> dict[str, tuple[int, int]]:
        """(size, mtime_ns) of every lake file outside the checkpoint."""
        out = {}
        top = self.paths.out_dir
        for dirpath, dirnames, filenames in os.walk(top):
            if dirpath == top and "_checkpoint" in dirnames:
                dirnames.remove("_checkpoint")
            for f in filenames:
                p = os.path.join(dirpath, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:  # the dim swap raced the walk
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
        return out


class BatchProbe:
    """foreachBatch body of a traced run. While ``on``, a batch is
    traced: the default processor runs with ``process_packet_batch``'s
    phase clock on, the lake is diffed around it and the jobs of the
    query's job group are counted. Otherwise the default processor
    runs untouched. Records are keyed by batch id."""

    def __init__(self, dep: Deployment):
        self.dep = dep
        self.clock: dict[str, float] = {}
        self._plain = idempotent_batch_processor(dep.paths, input_deduped=True)
        self._clocked = idempotent_batch_processor(
            dep.paths, phase_clock=self.clock, input_deduped=True
        )
        self.on = False
        self.batches: dict[int, dict] = {}

    def __call__(self, batch, epoch_id: int) -> None:
        if not self.on:
            self._plain(batch, epoch_id)
            return
        sc = batch.sparkSession.sparkContext
        # Structured Streaming runs a query's jobs in the job group named
        # after its run id; the sink pool threads inherit it
        group = sc.getLocalProperty("spark.jobGroup.id")
        jobs0 = len(sc.statusTracker().getJobIdsForGroup(group))
        before_clock = dict(self.clock)
        before = self.dep.lake_files()
        self._clocked(batch, epoch_id)
        after = self.dep.lake_files()
        written = [p for p, meta in after.items() if before.get(p) != meta]
        rec = {
            name: self.clock.get(ph, 0.0) - before_clock.get(ph, 0.0)
            for name, ph in CLOCK_PHASES.items()
        }
        rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group)) - jobs0
        rec["files"] = len(written)
        rec["bytes"] = sum(after[p][0] for p in written)
        self.batches[epoch_id] = rec


def _start_s(progress) -> float:
    start = datetime.strptime(progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return start.replace(tzinfo=timezone.utc).timestamp()


def _busy_s(progress) -> float:
    return progress["durationMs"].get("triggerExecution", 0) / 1000.0


def _end_s(progress) -> float:
    """Epoch seconds at which a trigger ended: its start timestamp plus
    its triggerExecution time."""
    return _start_s(progress) + _busy_s(progress)


def _data_batches(progress: list) -> list:
    return [p for p in progress if p["numInputRows"] > 0]


def backlogged(times: list, batches: list, progress: list) -> int:
    """Files that landed while a trigger other than their own was
    running, so their batch queued behind it."""
    return sum(
        1
        for (_, landed), own in zip(times, batches)
        if any(
            p is not own and _start_s(p) <= landed < _end_s(p)
            for p in progress
        )
    )


def lake_counts(spark, paths: IngestPaths) -> dict[str, int]:
    """Rows per fact table and in the quarantine, and the rollup's
    summed ``cnt``."""
    from pyspark.sql import functions as F

    got = {t: spark.read.parquet(paths.table(t)).count() for t in FACT_TABLES}
    got["quarantine"] = spark.read.json(paths.table("quarantine")).count()
    got["rollup_cnt"] = (
        spark.read.parquet(paths.table("airwise_hourly"))
        .agg(F.sum("cnt"))
        .collect()[0][0]
    )
    return got


def lake_problems(got: dict[str, int], want) -> list[str]:
    """Compare lake counts with the generator's: rows per fact table
    and in the quarantine, and rollup cnt = v0 env fact rows."""
    problems = [
        f"{t}: {got[t]} rows, expected {want[t]}"
        for t in (*FACT_TABLES, "quarantine")
        if got[t] != want[t]
    ]
    if got["rollup_cnt"] != got["airwise_data"]:
        problems.append(
            f"rollup cnt {got['rollup_cnt']} != airwise_data rows {got['airwise_data']}"
        )
    return problems


def _layers(probe: BatchProbe, batches: list) -> dict:
    """Per-layer medians over the traced batches."""
    med = statistics.median
    states = [p["stateOperators"][0] for p in batches]
    recs = [probe.batches[p["batchId"]] for p in batches]
    out = {
        name: med(p["durationMs"].get(key, 0) for p in batches)
        for name, key in STREAM_PHASES.items()
    }
    out["dedup_state.commit_ms"] = med(s["commitTimeMs"] for s in states)
    out["dedup_state.rows_total"] = states[-1]["numRowsTotal"]
    out["dedup_state.rows_dropped_late"] = sum(
        s["numRowsDroppedByWatermark"] for s in states
    )
    for name in CLOCK_PHASES:
        out[name] = med(r[name] for r in recs)
    out["ingest.jobs_per_batch"] = med(r["jobs"] for r in recs)
    out["ingest.files_written_per_batch"] = med(r["files"] for r in recs)
    out["ingest.bytes_written_per_batch"] = med(r["bytes"] for r in recs)
    return out


def _window(dep: Deployment, q, n: int, probe: BatchProbe | None) -> dict:
    """Publish ``n`` files on the fixed schedule and wait until all are
    committed. With a probe, every other file is traced: the backlog
    stays empty, so a file's batch runs before the next file lands.
    Each file is charged the CPU of one period from when it was due:
    its batch, the no-data batch after it and the idle stream. Returns
    the files' (due, landed) times and CPU ms, the batches that
    committed them in order, how many files queued behind an earlier
    trigger and the error that stopped the stream, if one did."""
    staged = [dep.stage() for _ in range(n)]
    skip = len(q.recentProgress)
    times: list[tuple[float, float]] = []
    marks: list[float] = []
    t0 = time.time() + 0.2
    # the stream runs on its own JVM threads, so this thread can keep
    # the schedule whatever the batches do
    for i, name in enumerate(staged):
        due = t0 + i * PERIOD_S
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        if probe is not None:
            probe.on = i % 2 == 1
        marks.append(process_tree_cpu_s())
        times.append((due, dep.publish(name)))
    error = None
    try:
        q.processAllAvailable()
    except StreamingQueryException as exc:
        error = f"stream stopped: {exc}".splitlines()[0]
    delay = t0 + n * PERIOD_S - time.time()
    if delay > 0:
        time.sleep(delay)
    marks.append(process_tree_cpu_s())
    cpu_ms = [(b - a) * 1000.0 for a, b in zip(marks, marks[1:])]
    progress = q.recentProgress[skip:]
    batches = _data_batches(progress)
    if error is None and len(batches) != n:
        raise RuntimeError(f"{n} files published, {len(batches)} batches ran")
    return {
        "times": times[: len(batches)],
        "cpu_ms": cpu_ms[: len(batches)],
        "batches": batches,
        "backlogged": backlogged(times, batches, progress),
        "error": error,
    }


def _window_e2e(win: dict, files: list[int]) -> dict:
    """Figures over some of the window's files. Latency runs from due to
    commit per file; the rate is packets per second of data-batch busy
    time, which moves with the program rather than with the publishing
    schedule."""
    batches = [win["batches"][i] for i in files]
    due = [win["times"][i][0] for i in files]
    lat = [(_end_s(p) - d) * 1000.0 for p, d in zip(batches, due)]
    busy = sum(_busy_s(p) for p in batches)
    return dict(
        e2e_metrics(lat, len(batches) * PACKETS_PER_FILE, busy,
                    [win["cpu_ms"][i] for i in files]),
        _latencies_ms=lat,
    )


def run(spark, work: str, seed: int, seconds: int, trace: bool) -> dict:
    dep = Deployment(os.path.join(work, "trickle"), seed)
    probe = BatchProbe(dep) if trace else None
    q = run_ingest_stream(
        spark,
        dep.paths,
        max_files_per_trigger=1,
        dedup_within_watermark=True,
        batch_processor=probe,
    )
    try:
        # a failure in warm-up is a failed set-up: it raises
        warm: list[float] = []
        while not steady(warm, WARMUP_MIN) and len(warm) < WARMUP_MAX:
            dep.publish(dep.stage())
            q.processAllAvailable()
            warm.append(_data_batches(q.recentProgress)[-1]["durationMs"]["triggerExecution"])
        setup_done = time.time()
        n = int(seconds / PERIOD_S) + 1  # every file due within the window
        if probe is not None:
            n *= 2  # half the files traced, half not
        win = _window(dep, q, n, probe)
        heap = retained_heap_mb(spark)
    finally:
        q.stop()
    times, batches = win["times"], win["batches"]
    if not batches:
        raise RuntimeError(win["error"])
    # a file the stream never committed is a failed attempt; the lake
    # is then short of those files, so it is not checked
    if win["error"]:
        checks, problems = 0, [win["error"]]
    else:
        checks = CHECKS
        problems = lake_problems(lake_counts(spark, dep.paths), dep.gen.expected)
    failed = n - len(batches) + (len(problems) if checks else 0)
    lake_ratio = sum(s for s, _ in dep.lake_files().values()) / dep.landed_bytes
    lateness = max(landed - due for due, landed in times) * 1000.0
    layers: dict[str, float] = {}
    if probe is None:
        e2e = _window_e2e(win, list(range(len(batches))))
    else:
        traced = [i for i, p in enumerate(batches) if p["batchId"] in probe.batches]
        plain = [i for i in range(len(batches)) if i not in traced]
        e2e = _window_e2e(win, plain)
        layers = traced_layers(e2e, _window_e2e(win, traced))
        layers.update(_layers(probe, [batches[i] for i in traced]))
        layers["ingest.lake_bytes_per_input_byte"] = lake_ratio
        layers["gen.lateness_ms"] = lateness
        layers["stream.backlogged_files"] = win["backlogged"]
    e2e["retained_heap_mb"] = heap
    return {
        "setup_done": setup_done,
        "attempted": n + checks,
        "failed": failed,
        "problems": problems,
        "e2e": e2e,
        "layers": layers,
        "report": {
            "files": n,
            "period_s": PERIOD_S,
            "latencies_ms": [round(x) for x in e2e["_latencies_ms"]],
            "cpu_ms_per_file": [round(x) for x in win["cpu_ms"]],
            "backlogged_files": win["backlogged"],
            "lake_bytes_per_input_byte": lake_ratio,
            "gen_lateness_max_ms": lateness,
            "warmup_files": len(warm),
            "warmup_batch_ms": warm,
        },
    }
