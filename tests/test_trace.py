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
