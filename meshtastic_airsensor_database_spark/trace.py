"""One trace per query and one per micro-batch: the layer breakdown
every query and streaming timer reads.

``trace_query`` runs a query builder, then a noop-sink action (full
computation, no driver-side result transfer), after a GC fence outside
the clock, and returns one record of ``LAYER_KEYS``: builder and action
wall seconds (the builder's includes its eager passes: checkpoints,
index lifecycle writes, driver collects), the Spark jobs each phase
launched, the Catalyst phase times of the builder's frame, and the
shuffle-write and spilled bytes of every stage those jobs ran.

``BatchTrace`` records every trigger of a stream (``BATCH_KEYS``): the
trigger's ``durationMs`` phases, the foreachBatch body's clocked
phases, its jobs, stages and tasks, and the CPU split since the
previous trigger. ``streaming/observe.py::progress_frame`` is its
DataFrame view.

Jobs are counted by the window of job ids the DAGScheduler handed out
during each phase, not by job group: a job group is a thread-local
property, so the jobs a builder launches from Python worker threads
(staged index writes, ``io_utils.parallel_append_ordered``) carry none
and a group count misses them. The window counts every job the process
submits meanwhile, so trace one query or stream at a time. The id
reads are the only work a trace adds inside the clock.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

LAYER_KEYS = (
    "query.build_s", "query.build_jobs", "query.analysis_ms",
    "query.optimization_ms", "query.planning_ms", "query.action_s",
    "query.action_jobs", "query.shuffle_bytes", "query.spill_bytes",
)


def _job_stages(spark: SparkSession, j0: int, j1: int) -> list:
    """The last attempt (``StageData``) of every stage of jobs ``j0`` up
    to ``j1``, from the status store. A job or stage the store has
    evicted is left out: it evicts skipped stages (whose shuffle output
    was reused, so they ran nothing here) first once it holds
    ``spark.ui.retainedStages``, and old jobs past
    ``spark.ui.retainedJobs``."""
    jsc = spark.sparkContext._jsc.sc()
    # the status store fills from the listener bus, which may lag the
    # job ends the caller waited for
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def stored(lookup):
        try:
            return lookup()
        except Py4JJavaError as e:
            if e.java_exception.getClass().getName() != "java.util.NoSuchElementException":
                raise
            return None

    jobs = [stored(lambda j=j: store.job(j)) for j in range(j0, j1)]
    ids = {s for job in jobs if job is not None for s in conv.asJava(job.stageIds())}
    stages = [stored(lambda s=s: store.lastStageAttempt(s)) for s in sorted(ids)]
    return [sd for sd in stages if sd is not None]


def trace_query(
    spark: SparkSession,
    builder: Callable[[SparkSession, str], DataFrame],
    sf_dir: str,
) -> dict:
    """Build ``builder(spark, sf_dir)``, write it to the noop sink and
    return the record of ``LAYER_KEYS`` (seconds rounded to µs)."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    # GC fence: the previous query's allocation debt is collected
    # outside the clock instead of landing as a pause inside this one
    spark._jvm.System.gc()
    j0 = dag.nextJobId()
    t0 = time.perf_counter()
    df = builder(spark, sf_dir)
    t1 = time.perf_counter()
    j1 = dag.nextJobId()
    df.write.mode("overwrite").format("noop").save()
    t2 = time.perf_counter()
    j2 = dag.nextJobId()

    shuffle = spill = 0
    for sd in _job_stages(spark, j0, j2):
        shuffle += sd.shuffleWriteBytes()
        spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()

    rec = {
        "query.build_s": round(t1 - t0, 6),
        "query.build_jobs": j1 - j0,
        "query.action_s": round(t2 - t1, 6),
        "query.action_jobs": j2 - j1,
        "query.shuffle_bytes": shuffle,
        "query.spill_bytes": spill,
    }
    # Catalyst phases of the builder's own frame (the noop write plans
    # a fresh QueryExecution whose tracker is not reachable from here)
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        rec[f"query.{name}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return {k: rec[k] for k in LAYER_KEYS}


# Structured Streaming's trigger phases and the foreachBatch phases
# process_packet_batch writes into its ``phase_clock``, under the
# names perfbench's ingest workload reports them by
STREAM_PHASES = {
    "stream.latest_offset_ms": "latestOffset",
    "stream.get_batch_ms": "getBatch",
    "stream.query_planning_ms": "queryPlanning",
    "stream.wal_commit_ms": "walCommit",
    "stream.add_batch_ms": "addBatch",
    "stream.commit_offsets_ms": "commitOffsets",
}
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
CPU_KEYS = ("cpu_python_s", "cpu_jvm_s", "cpu_jit_s", "cpu_children_s")
BATCH_KEYS = (
    "query_id", "run_id", "batch_id", "ts", "num_input_rows",
    "input_rows_per_second", "processed_rows_per_second",
    "state_rows", "state_bytes", "watermark", "batch_duration_ms",
    *STREAM_PHASES, "body_s", "residual_s", *CLOCK_PHASES,
    "jobs", "stages", "tasks", *CPU_KEYS,
)
# HotSpot's JIT compiler threads, by their 15-character thread names
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _proc_stat(path: str) -> list[str]:
    """Fields of a /proc stat file after the parenthesised command name:
    utime, stime, cutime, cstime at 11-14 (proc(5))."""
    with open(path) as fh:
        return fh.read().rsplit(")", 1)[1].split()


def _cpu_split(jvm_pid: int) -> tuple[float, float, float, float]:
    """CPU seconds used so far, in ``CPU_KEYS`` order: this Python
    process; the JVM's threads other than its JIT compilers; the JIT
    compiler threads; and the JVM's children, live or reaped.

    The children are the Python workers (``createDataFrame`` over a
    Python list runs in them) and the processes the JVM forks: without
    Hadoop's native library the local filesystem forks a ``chmod`` or
    ``readlink`` through ``jspawnhelper`` for every file and directory
    it creates, so on a lake write they are its fork cost. A compiler
    thread that exits folds its time into the JVM's own, as in
    ``perfbench.stats.process_tree_cpu_s``: pin them
    (``-XX:-UseDynamicNumberOfCompilerThreads``) for a clean split."""
    parent, used = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            f = _proc_stat(f"/proc/{entry}/stat")
        except OSError:  # exited during the walk
            continue
        parent[int(entry)] = int(f[1])
        used[int(entry)] = [int(x) for x in f[11:15]]
    kids, frontier = set(), {jvm_pid}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - kids
        kids |= frontier
    jit = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        task = f"/proc/{jvm_pid}/task/{tid}"
        try:
            with open(f"{task}/comm") as fh:
                if not fh.read().startswith(_JIT_THREADS):
                    continue
            t = _proc_stat(f"{task}/stat")
        except OSError:  # the thread exited during the walk
            continue
        jit += int(t[11]) + int(t[12])
    jvm, tick, own = used[jvm_pid], os.sysconf("SC_CLK_TCK"), os.times()
    children = jvm[2] + jvm[3] + sum(sum(used.get(p, ())) for p in kids)
    return (own.user + own.system, (jvm[0] + jvm[1] - jit) / tick,
            jit / tick, children / tick)


class BatchTrace(StreamingQueryListener):
    """Per-trigger records of the streams of one session, keyed by batch
    id. Use as a context manager around a stream's run: it listens from
    entry to exit.

    The listener keeps every progress event (``recentProgress`` holds
    only ``spark.sql.streaming.numRecentProgressUpdates`` of them) and
    samples the CPU split at each one, so a record's CPU is what the
    processes used since the previous trigger ended (the first
    record's, since entry). ``wrap`` times a foreachBatch body: its
    wall seconds, the jobs it ran by job-id window and the growth of
    ``clock``, the ``phase_clock`` dict the body writes (pass it to
    ``idempotent_batch_processor``). A record's body keys are None for
    a trigger whose body was not wrapped. Wrap the body of one stream
    at a time: bodies are keyed by batch id alone."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.clock: dict[str, float] = {}
        self._jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        self._events: list[tuple[dict, tuple]] = []
        self._bodies: dict[int, tuple] = {}

    def __enter__(self) -> "BatchTrace":
        self._cpu = _cpu_split(self._jvm_pid)
        self.spark.streams.addListener(self)
        return self

    def __exit__(self, *exc) -> None:
        # deliver the events already posted before the listener goes
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        self.spark.streams.removeListener(self)

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        now = _cpu_split(self._jvm_pid)
        cpu = tuple(round(b - a, 3) for a, b in zip(self._cpu, now))
        self._cpu = now
        self._events.append((json.loads(event.progress.json), cpu))

    def onQueryTerminated(self, event) -> None:
        pass

    def wrap(self, body: Callable) -> Callable:
        """``body`` as a foreachBatch callable that records each batch."""
        dag = self.spark.sparkContext._jsc.sc().dagScheduler()

        def traced(batch: DataFrame, batch_id: int) -> None:
            before = dict(self.clock)
            j0 = dag.nextJobId()
            t0 = time.perf_counter()
            body(batch, batch_id)
            t1 = time.perf_counter()
            grown = {
                name: round(self.clock.get(ph, 0.0) - before.get(ph, 0.0), 6)
                for name, ph in CLOCK_PHASES.items()
            }
            self._bodies[batch_id] = (round(t1 - t0, 6), j0, dag.nextJobId(), grown)

        return traced

    def records(self, query=None) -> list[dict]:
        """The ``BATCH_KEYS`` record of every trigger so far, of
        ``query`` alone when given, in trigger order. A ``durationMs``
        phase the trigger did not run is None (an idle trigger has no
        ``addBatch``); ``residual_s`` is the trigger's time outside the
        wrapped body."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        out = []
        for p, cpu in list(self._events):
            if query is not None and p["id"] != str(query.id):
                continue
            dur = p.get("durationMs") or {}
            state = (p.get("stateOperators") or [{}])[0]
            rec = dict.fromkeys(BATCH_KEYS)
            rec.update(
                query_id=p["id"], run_id=p["runId"], batch_id=p["batchId"],
                ts=p["timestamp"], num_input_rows=p["numInputRows"],
                input_rows_per_second=p.get("inputRowsPerSecond"),
                processed_rows_per_second=p.get("processedRowsPerSecond"),
                state_rows=state.get("numRowsTotal"),
                state_bytes=state.get("memoryUsedBytes"),
                watermark=(p.get("eventTime") or {}).get("watermark"),
                batch_duration_ms=dur.get("triggerExecution"),
                **dict(zip(CPU_KEYS, cpu)),
            )
            rec.update({name: dur.get(ph) for name, ph in STREAM_PHASES.items()})
            body = self._bodies.get(p["batchId"])
            if body is not None and rec["stream.add_batch_ms"] is not None:
                body_s, j0, j1, grown = body
                stages = _job_stages(self.spark, j0, j1)
                rec.update(grown, body_s=body_s, jobs=j1 - j0,
                           stages=len(stages),
                           tasks=sum(sd.numCompleteTasks() for sd in stages))
                rec["residual_s"] = round(rec["batch_duration_ms"] / 1000 - body_s, 6)
            out.append(rec)
        return out
