"""One per-query trace: the layer breakdown every query timer reads.

``trace_query`` runs a query builder, then a noop-sink action (full
computation, no driver-side result transfer), after a GC fence outside
the clock, and returns one record of ``LAYER_KEYS``: builder and action
wall seconds (the builder's includes its eager passes: checkpoints,
index lifecycle writes, driver collects), the Spark jobs each phase
launched, the Catalyst phase times of the builder's frame, and the
shuffle-write and spilled bytes of every stage those jobs ran.

Jobs are counted by the window of job ids the DAGScheduler handed out
during each phase, not by job group: a job group is a thread-local
property, so the jobs a builder launches from Python worker threads
(staged index writes, ``io_utils.parallel_append_ordered``) carry none
and a group count misses them. The window counts every job the process
submits meanwhile, so trace one query at a time, not beside a running
stream. The id reads are the only work the trace adds inside the clock.
"""

from __future__ import annotations

import time
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

LAYER_KEYS = (
    "query.build_s", "query.build_jobs", "query.analysis_ms",
    "query.optimization_ms", "query.planning_ms", "query.action_s",
    "query.action_jobs", "query.shuffle_bytes", "query.spill_bytes",
)


def trace_query(
    spark: SparkSession,
    builder: Callable[[SparkSession, str], DataFrame],
    sf_dir: str,
) -> dict:
    """Build ``builder(spark, sf_dir)``, write it to the noop sink and
    return the record of ``LAYER_KEYS`` (seconds rounded to µs)."""
    jsc = spark.sparkContext._jsc.sc()
    dag = jsc.dagScheduler()
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

    # the status store fills from the listener bus, which may lag the
    # job ends the action waited for
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    stages = {s for j in range(j0, j2) for s in conv.asJava(store.job(j).stageIds())}
    shuffle = spill = 0
    for s in stages:
        try:
            sd = store.lastStageAttempt(s)
        except Py4JJavaError as e:
            # a stage the job skipped (its shuffle output was reused)
            # wrote nothing here, and the store evicts skipped stages
            # first once it holds spark.ui.retainedStages
            if e.java_exception.getClass().getName() != "java.util.NoSuchElementException":
                raise
            continue
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
