"""The per-query trace (trace.py): every job a builder launches is
counted, also from worker threads, and the record agrees with the
benchmark's own per-query timer."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from meshtastic_airsensor_database_spark.trace import LAYER_KEYS, trace_query


def test_trace_counts_jobs_launched_from_worker_threads(spark, sf_dir):
    """Python threads do not inherit a job group, so a job-group count
    would see none of these two builder jobs; the job-id window sees
    both, and the noop action's one job."""

    def builder(spark, _sf_dir):
        with ThreadPoolExecutor(max_workers=2) as pool:
            list(pool.map(
                lambda n: spark.range(n).write.mode("overwrite").format("noop").save(),
                (10, 20),
            ))
        return spark.range(3)

    rec = trace_query(spark, builder, sf_dir)
    assert tuple(rec) == LAYER_KEYS
    assert rec["query.build_jobs"] == 2
    assert rec["query.action_jobs"] == 1
    assert rec["query.shuffle_bytes"] >= 0 and rec["query.spill_bytes"] == 0
    assert rec["query.build_s"] > 0 and rec["query.action_s"] > 0


def test_trace_matches_perfbench_client(spark, sf_dir):
    """perfbench keeps its own copy of the trace logic (job groups,
    stage bytes, Catalyst phases); on a query without worker threads
    both must report the same jobs, bytes and phase keys."""
    from meshtastic_airsensor_database_spark.plans import REGISTRY
    from perfbench.dashboard import Client

    name = "pricing_summary"
    REGISTRY[name].builder(spark, sf_dir).write.mode("overwrite").format("noop").save()
    theirs = Client(spark, sf_dir, seed=0).query(name, traced=True)
    ours = trace_query(spark, REGISTRY[name].builder, sf_dir)
    assert set(ours) == {k for k in theirs if k.startswith("query.")}
    for k in ("query.build_jobs", "query.action_jobs",
              "query.shuffle_bytes", "query.spill_bytes"):
        assert ours[k] == theirs[k], k
    assert ours["query.shuffle_bytes"] > 0


def test_batch_trace_records_every_trigger(spark, tmp_path):
    """A three-trigger ingest on a session whose ``recentProgress``
    holds two: the trace still records every trigger, under perfbench's
    layer names, with the jobs of each body, and its CPU split names at
    least 90% of the process tree's CPU (JIT compilers left out of
    both) over the run."""
    import os
    import time

    from bench import gen_packets
    from meshtastic_airsensor_database_spark.sources.landing import write_packet_fixture
    from meshtastic_airsensor_database_spark.streaming.ingest import (
        IngestPaths,
        idempotent_batch_processor,
        run_ingest_stream,
    )
    from meshtastic_airsensor_database_spark.trace import BATCH_KEYS, BatchTrace
    from perfbench.ingest import CLOCK_PHASES, STREAM_PHASES
    from perfbench.stats import process_tree_cpu_s

    session = spark.newSession()
    session.conf.set("spark.sql.streaming.numRecentProgressUpdates", "2")
    paths = IngestPaths(str(tmp_path / "landing"), str(tmp_path / "out"))
    lines = gen_packets(300)
    base_t = time.time() - 10
    for i in range(3):
        p = write_packet_fixture(paths.landing_dir, lines[i * 100:(i + 1) * 100], f"b{i}.jsonl")
        # the file source orders by mtime, so the event time never regresses
        os.utime(p, (base_t + 2 * i, base_t + 2 * i))

    cpu0 = process_tree_cpu_s()
    with BatchTrace(session) as trace:
        body = idempotent_batch_processor(paths, phase_clock=trace.clock, input_deduped=True)
        q = run_ingest_stream(
            session, paths, max_files_per_trigger=1, dedup_within_watermark=True,
            batch_processor=trace.wrap(body), state_partitions=2,
        )
        try:
            q.processAllAvailable()
            cpu1 = process_tree_cpu_s()
            recs = trace.records(q)
            ring = len(q.recentProgress)
        finally:
            q.stop()

    assert ring <= 2
    assert [r["batch_id"] for r in recs] == [0, 1, 2]
    assert set(STREAM_PHASES) | set(CLOCK_PHASES) <= set(BATCH_KEYS)
    for r in recs:
        assert tuple(r) == BATCH_KEYS
        assert r["num_input_rows"] > 0
        assert r["jobs"] >= 1 and r["stages"] >= 1 and r["tasks"] >= 1
        assert r["stream.add_batch_ms"] > 0 and r["sink.facts_airwise_data_s"] > 0
        assert 0 < r["body_s"] <= r["batch_duration_ms"] / 1000
    named = sum(r["cpu_python_s"] + r["cpu_jvm_s"] + r["cpu_children_s"] for r in recs)
    assert named >= 0.9 * (cpu1 - cpu0), (named, cpu1 - cpu0)


def test_session_pins_jit_compiler_threads(spark):
    """get_spark starts the driver JVM with a fixed set of JIT compiler
    threads, so none exits with its CPU folded into the process total
    (BatchTrace's cpu_jit_s would go negative for that trigger)."""
    args = list(
        spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    )
    assert "-XX:-UseDynamicNumberOfCompilerThreads" in args, args
