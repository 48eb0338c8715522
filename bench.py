"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default: the
sf0.1 testdata dir) on ``local[$SPARK_GRAFT_CPUS]`` and prints TWO
JSON lines: first the full result, {"metric": ..., "value": N,
"unit": "sec", "queries": {name: sec}, "queries_action": ..., "sf":
..., calibration probes ...}, then a short summary line small enough
for any bounded tail capture. The full result is also written to
``bench_out.json``, which adds ``queries_trace``: {name: record}, the
``trace.trace_query`` record (builder/action seconds and jobs,
Catalyst phase ms, shuffle and spill bytes) of the run that set each
query's minimum.

Each query is traced by ``trace.trace_query``: builder plus a
noop-sink action (full computation, no driver-side result transfer)
after a GC fence outside the clock. Protocol: one untimed warm-up pass
at the target SF (JIT/codegen + file listing), then three timed sweeps
over the query list, reporting the per-query MIN (steady-state; a
single local[32] JVM has enough scheduler/GC jitter to swing small
queries 2-3x), with extra reps for the ``HIGH_VARIANCE`` queries.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from meshtastic_airsensor_database_spark.plans import REGISTRY
from meshtastic_airsensor_database_spark.session import get_spark
from meshtastic_airsensor_database_spark.trace import trace_query

# Headline set: every operator family, sized to finish in minutes at
# sf0.1 (the O(n^2) exact pair joins are correctness-oracle tools, not
# headline operators — their scale path IS the LSH/minhash variants).
BENCH_QUERIES = [
    "pricing_summary",
    "top_orders_by_revenue",
    "region_supplier_revenue",
    "fact_dim_join",
    "customers_with_urgent_orders",
    "rollup_lineitem",
    "grouping_sets_revenue",
    "value_percentiles_by_type",
    "topk_expensive_orders",
    "hourly_avg_by_node",
    "latest_reading_per_node",
    "reading_gap_detect",
    "rolling_avg_value",
    "session_counts",
    "outage_episodes",
    "asof_latest_view_value",
    "top3_orders_per_segment",
    "props_json_extract",
    "aligned_type_buckets",
    "exact_dedup_docs",
    "token_stats_by_lang",
    "quality_scores",
    "minhash_neardup_candidates",
    "simhash_dedup_buckets",
    "embedding_topk_cosine",
    "ann_ivf_topk",
    "contaminated_eval_docs",
    "quantized_topk_cosine",
    "salted_brand_quantities",
    "semantic_dedup_pairs",
    "ann_pq_topk",
    "normalized_dedup_docs",
    "seasonal_naive_skill",
    "asof_view_within_tolerance",
    "dsir_sampled_docs",
    "fuzzy_name_matches",
    "value_acf_by_type",
    "user_copresence_triangles",
    "vocab_encoded_docs",
    "hll_distinct_users_rollup",
    "table_constraint_report",
    "m4_downsample",
    "cohort_retention",
    "bm25_topk_docs",
    "time_weighted_avg",
    "value_ks_drift",
    "heavy_hitter_users",
    "bigram_pmi_topk",
    "zipf_token_slope",
    "last_touch_attribution",
    # r4: previously un-benched families (set-join, intervals, CDC,
    # graph, trained-centroid ANN) so regressions there are visible
    # round-over-round (r3 verdict item 5)
    "prefix_jaccard_neardups",
    "interval_event_stats",
    "snapshot_diff_customers",
    "neardup_components",
    "ann_kmeans_ivf_topk",
    "session_window_stats",
    "weighted_quality_sample",
    "seasonal_decomposition",
    "tfidf_top_terms",
    "split_leakage_report",
    "seasonal_anomaly_flags",
    "ccnet_perplexity_buckets",
    "length_grouped_batches",
    # late-r4 additions: CMS sketch tier, corpus novelty / source
    # overlap, MMR re-rank, cluster-quality report
    "cms_heavy_hitters",
    "doc_novelty_scores",
    "source_overlap_jaccard",
    "mmr_diversified_topk",
    "cluster_quality_metrics",
    "table_checksum_report",
    "skew_key_report",
    "sentiment_by_source",
    # exact-substring dedup transform (removal twin of dup_span_stats)
    "span_deduped_docs",
    # experimentation/uncertainty stats family
    "ab_welch_test",
    "bootstrap_value_ci",
    "mannwhitney_value_test",
    # product-analytics family additions
    "dau_wau_stickiness",
    "linear_attribution",
    # TPC-H Q13 count-of-counts
    "orders_per_customer_histogram",
    # embedding-label separability eval
    "nearest_centroid_confusion",
    # distributed-covariance (PCA input) Gram-partial path
    "embedding_corr_pairs",
    # higher-order session journey mining
    "top_session_paths",
    # inverted-index sparse-cosine near-dup join
    "sparse_tf_cosine_pairs",
    # RFM segmentation + conversion latency (product analytics)
    "rfm_segments",
    "conversion_latency_stats",
    # r5 additions: partition-offset global rank/cumsum machinery
    # (pareto + budget selection + line numbering now run eager
    # builder-time passes — the timed region includes them), MinHash
    # estimator calibration, per-key debounce, tokenizer OOV coverage
    "pareto_user_share",
    "token_budget_selection",
    "line_numbering",
    "minhash_jaccard_calibration",
    "debounced_events",
    "oov_rate_by_source",
    "pii_redacted_docs",
    "pseudonymized_events",
    # r6 additions: the BPE training loop (builder-heavy — the e2e
    # clock exists for exactly this shape), the oracle-exact multimodal
    # near-dup (synth -> codec roundtrip -> integer aHash -> banding),
    # and the squared-power-iteration PCA (gram pass + bounded driver
    # iteration)
    "bpe_learned_merges",
    "image_neardup_pairs_exact",
    "audio_fingerprint_exact",
    "pca_power_component",
    # r7: the supervised trained-model member (one-pass integer moments
    # + driver Gauss-Jordan; builder-eager -> e2e clock captures it)
    "linreg_token_diversity",
    "logreg_quality_gd",
    # (semantic_contaminated_evals stays OFF the headline set for the
    # same reason as embedding_lsh_neardup_pairs: the synthetic corpus
    # forces a 0.4 cosine threshold, which makes the banded verify
    # pair-heavy — 10 s action at sf0.1, measured r9. It remains
    # oracle-backed, driver-windowed and plan-audited.)
    # r10: the PRODUCTION-threshold tier (>=0.9, sharp 10-bit bands,
    # precomputed literal sign matrix) carries the semantic-dedup cost
    # story on the headline set instead (r9 verdict #4).
    "semantic_contaminated_evals_strict",
    # r11: the persisted indexes' build/extend/probe lifecycles — the
    # cost story for the static-corpus-plus-deltas production regime
    # (job-count-bound, many sequential jobs; HIGH_VARIANCE
    # multi_job_latency on arrival)
    "decon_index_report",
    "ivf_index_topk",
    "minhash_index_report",
]


# Queries with a DOCUMENTED intrinsic same-session spread (README
# adjudication log): their single-shot minima swing enough to generate
# a false regression flag every round, so the standard bench gives them
# extra timed reps (min over sweeps + reps — bounded cost, only for
# queries carrying a documented spread) and tags them in the output's
# ``variance_class`` so the next round's comparison can discount them
# (r8 verdict #2).
HIGH_VARIANCE = {
    # ~2x same-session spread, GC-sensitive ObjectHashAggregate chain
    # (ten same-session reps spanned 0.478-0.935 s, r8 adjudication)
    "cluster_quality_metrics": "gc_objecthash",
    # r9 adjudication: flagged as r7→r8 movers, fully recovered in r9
    # (0.33-0.71x probe-normalized) with byte-stable plans — but their
    # between-block spread in the r9 jitter run sat at/above the
    # session p90 (40% / 26% / 22%), so single-shot minima will keep
    # re-flagging them; class = recurring session-sensitive spread.
    "span_deduped_docs": "session_spread",
    "salted_brand_quantities": "session_spread",
    "rfm_segments": "session_spread",
    # r10 adjudication: many-jobs-per-action queries (6 and 13 jobs —
    # counted via job groups, README r10 log) whose minima track the
    # LATENCY calibration probe (per-job fixed cost, persistently
    # ~1.38x its r8 level since r9) and showed 40%/27% same-session
    # 10-rep spread with byte-stable plans. Normalize these by the
    # latency probe before flagging.
    "vocab_encoded_docs": "multi_job_latency",
    "table_constraint_report": "multi_job_latency",
    # r11: the persisted-index lifecycle queries run many SEQUENTIAL
    # jobs per action (build staging writes + renames + extend append
    # + probe scans), so their wall is per-job fixed cost, not data —
    # classed on arrival rather than waiting for a flag (decon
    # measured 6-7 s warm at BOTH sf0.001 and sf0.01: pure latency).
    "decon_index_report": "multi_job_latency",
    "ivf_index_topk": "multi_job_latency",
    "minhash_index_report": "multi_job_latency",
}
_EXTRA_REPS = 3


def calibration(spark) -> float:
    """Machine-speed probe: a fixed CPU-bound JVM workload (hash-reduce
    over a generated range, no I/O, no Python) whose wall time depends
    only on how fast this host currently is. Reported next to the query
    timings so cross-round totals can be normalized: the same engine
    code benched on a 1.4x-slower host shows a 1.4x calibration, and
    query-time movement beyond that ratio is a real plan change.
    Min-of-3 like the queries."""
    from pyspark.sql import functions as F

    best = float("inf")
    for _ in range(3):
        spark._jvm.System.gc()
        df = spark.range(0, 4_000_000_000, 1, int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
        t0 = time.time()
        # bit_xor, not sum: ANSI mode overflows on a long sum of hashes
        df.select(F.bit_xor(F.xxhash64("id"))).write.mode("overwrite").format("noop").save()
        best = min(best, time.time() - t0)
    return round(best, 3)


def calibration_suite(spark, sf_dir: str) -> dict[str, float]:
    """Multi-probe machine-speed basket (r8). The single CPU probe
    above under-captures session-level shifts: r7→r8 it moved 1.046×
    while the 98-query action median moved 1.245× — sub-second query
    time is mostly scan setup, shuffle bookkeeping and driver↔JVM
    latency, none of which a pure-CPU range reduce exercises. One
    fixed probe per cost class, min-of-3 each, so the next round can
    normalize each movement against the probe that shares its cost
    shape (and a genuine plan regression shows up as movement beyond
    ALL of them):

    - ``cpu``: the classic range hash-reduce (JVM throughput).
    - ``scan_agg``: parquet scan + hash agg over the bench lineitem
      (columnar read path + codegen agg).
    - ``shuffle_join``: orders ⋈ customer on custkey + keyed agg (one
      real exchange each side + join bookkeeping).
    - ``latency``: 20 back-to-back 1-row jobs (driver↔JVM roundtrip +
      scheduler fixed cost — what trickle queries are made of).
    - ``fsync`` (r10): 40 small create-write-fsync-rename cycles — the
      durability syscalls a streaming micro-batch's fixed cost is made
      of (offset WAL, commit log, state-store deltas). Added because
      the r10 streaming floor moved 1.5× vs r9 while the 80k-packet
      MARGINAL throughput was identical (6142 vs 6164 rows/s): a
      fixed-cost-only inflation that the four compute probes cannot
      attribute, but a disk-sync shift can.
    """
    from pyspark.sql import functions as F

    def _min3(fn) -> float:
        best = float("inf")
        for _ in range(3):
            spark._jvm.System.gc()
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        return round(best, 3)

    li = os.path.join(sf_dir, "lineitem.parquet")
    od = os.path.join(sf_dir, "orders.parquet")
    cu = os.path.join(sf_dir, "customer.parquet")

    def scan_agg():
        (spark.read.parquet(li)
         .groupBy("l_returnflag")
         .agg(F.sum("l_quantity"), F.avg("l_extendedprice"), F.count(F.lit(1)))
         .write.mode("overwrite").format("noop").save())

    def shuffle_join():
        o = spark.read.parquet(od).select("o_custkey", "o_totalprice")
        c = spark.read.parquet(cu).select("c_custkey", "c_mktsegment")
        # hint both sides large enough semantics: let Catalyst choose;
        # at sf0.1 this is a real exchange-backed join either way
        (o.join(c, o.o_custkey == c.c_custkey)
         .groupBy("c_mktsegment").agg(F.sum("o_totalprice"))
         .write.mode("overwrite").format("noop").save())

    def latency():
        for _ in range(20):
            spark.range(1).write.mode("overwrite").format("noop").save()

    def fsync_probe():
        import tempfile

        d = tempfile.mkdtemp(prefix="bench_fsync_")
        try:
            for i in range(40):
                p = os.path.join(d, f"f{i}")
                fd = os.open(p + ".tmp", os.O_WRONLY | os.O_CREAT, 0o644)
                try:
                    os.write(fd, b"x" * 4096)
                    os.fsync(fd)
                finally:
                    os.close(fd)
                os.rename(p + ".tmp", p)
        finally:
            import shutil

            shutil.rmtree(d, ignore_errors=True)

    return {
        "cpu": calibration(spark),
        "scan_agg": _min3(scan_agg),
        "shuffle_join": _min3(shuffle_join),
        "latency": _min3(latency),
        "fsync": _min3(fsync_probe),
    }


def gen_packets(n: int, seed_ts: int = 1760748000) -> list[str]:
    """Deterministic synthetic packet stream shaped like the golden
    fixtures (tests/fixtures.py): an 8-node fleet emitting v0 env
    telemetry (55%), battery telemetry (15%), v1 CSV-text payloads
    (15%), nodeinfo dim updates (5%), unknown types routed to
    quarantine (3%), mesh re-broadcast duplicates (~7%), and a sprinkle
    of corrupt JSON — every route of process_packet_batch carries
    load. Pure index arithmetic, no RNG: reruns are bit-identical."""
    nodes = [
        (3127201152, "!ba654d80"), (2102560288, "!7d54e620"),
        (3127248732, "!ba660b5c"), (1129728980, "!43579bd4"),
        (912345678, "!3661ae4e"), (2345678901, "!8bd03735"),
        (3456789012, "!ce0a3a14"), (1234567890, "!499602d2"),
    ]
    lines: list[str] = []
    last_good = ""
    for i in range(n):
        frm, sender = nodes[i % len(nodes)]
        base = {
            "channel": 0, "from": frm, "sender": sender,
            "to": 4294967295, "id": 10_000 + i,
            "timestamp": seed_ts + (i // len(nodes)) * 30,
        }
        # 37 is coprime with 100: every residue class appears once per
        # 100 packets (same mix proportions), but classes INTERLEAVE —
        # so re-broadcast dupes copy a varied last_good (env, battery,
        # text, nodeinfo), not always the same neighbor class.
        m = (i * 37) % 100
        if m < 55:
            base["type"] = "telemetry"
            base["payload"] = {
                "temperature": 15.0 + (i % 200) / 10.0,
                "relative_humidity": 30.0 + (i % 500) / 10.0,
                "barometric_pressure": 990.0 + (i % 300) / 10.0,
                "gas_resistance": 100.0 + (i % 90),
                "iaq": 20 + (i % 150),
            }
        elif m < 70:
            base["type"] = "telemetry"
            base["payload"] = {
                "battery_level": float(i % 101),
                "voltage": 3.2 + (i % 10) / 10.0,
                "uptime_seconds": i,
            }
        elif m < 85:
            base["type"] = "text"
            vals = [
                15.0 + (i % 200) / 10.0, 30.0 + (i % 500) / 10.0,
                990.0 + (i % 300) / 10.0, 50.0 + (i % 90), 1.0,
                2.5, 10.0, 4.9, 100.0 + (i % 50),
            ]
            base["payload"] = {"text": ",".join(f"{v:.1f}" for v in vals) + "\n"}
        elif m < 90:
            base["type"] = "nodeinfo"
            base["payload"] = {
                "id": sender,
                "longname": f"Node{i % len(nodes)}",
                "shortname": f"N{i % len(nodes)}",
            }
        elif m < 93:
            base["type"] = "position"  # unknown type -> quarantine route
            base["payload"] = {}
        elif m < 94:
            lines.append('{"from": 123, "type": "telemetry", ')  # corrupt
            continue
        else:
            # mesh re-broadcast: duplicate the last PARSEABLE line
            # verbatim (same composite [from, id] key -> real load on
            # the dedup operator, not another corrupt-JSON copy). The
            # fallback (only reachable if a mix edit ever puts a dup
            # slot before the first parseable line) emits a well-formed
            # env packet, never a schema-less envelope.
            if not last_good:
                base["type"] = "telemetry"
                base["payload"] = {"temperature": 20.0}
                last_good = json.dumps(base)
            lines.append(last_good)
            continue
        last_good = json.dumps(base)
        lines.append(last_good)
    return lines


def streaming_main() -> None:
    """`bench.py --streaming`: replay synthetic packet volumes through
    the REAL ingest stream (packet_stream_source -> watermarked
    cross-batch dedup -> route/enrich -> partitioned parquet facts +
    rollup maintenance + quarantine) and report rows/s plus per-micro-
    batch latency at each volume. Deterministic input (gen_packets);
    processAllAvailable bounds the run. Every run is traced per batch
    (trace.BatchTrace): the latencies come from its records, and
    bench_stream.json also holds each timed run's records under
    ``batches`` (the printed line leaves them out). Writes
    bench_stream.json."""
    import shutil
    import tempfile

    from meshtastic_airsensor_database_spark.streaming.ingest import (
        IngestPaths,
        idempotent_batch_processor,
        run_ingest_stream,
    )
    from meshtastic_airsensor_database_spark.sources.landing import (
        write_packet_fixture,
    )
    from meshtastic_airsensor_database_spark.trace import BatchTrace

    spark = get_spark("bench-stream")
    vols = [
        int(x)
        for x in os.environ.get("SPARK_GRAFT_STREAM_VOLS", "20000,80000").split(",")
    ]
    n_files, mfpt = 24, 4  # 24 landing files, 4 per trigger -> 6 micro-batches
    # Untimed warm-up (r7, mirroring the batch bench's protocol): one
    # small volume through a throwaway deployment so JIT/codegen of the
    # foreachBatch plans and the state-store code paths happen outside
    # the timed runs — the 20k number then measures the pipeline, not
    # first-ever-plan compilation (r6's 20k run was ~half cold start).
    vols = [-2000] + vols
    runs = []
    for vol in vols:
        warmup = vol < 0
        vol = abs(vol)
        root = tempfile.mkdtemp(prefix="bench_stream_")
        try:
            paths = IngestPaths(
                os.path.join(root, "landing"), os.path.join(root, "out")
            )
            lines = gen_packets(vol)
            per = (len(lines) + n_files - 1) // n_files
            base_t = time.time() - 2 * n_files
            for fi in range(n_files):
                chunk = lines[fi * per : (fi + 1) * per]
                if chunk:
                    p = write_packet_fixture(
                        paths.landing_dir, chunk, f"b{fi:03d}.jsonl"
                    )
                    # Space file mtimes 2s apart (the bridge's real
                    # file-rolling cadence): the file source orders by
                    # ms-granular mtime, and 24 back-to-back writes tie,
                    # scrambling order — event time then regresses
                    # across micro-batches and the watermark drops the
                    # "late" rows, making throughput/row counts
                    # nondeterministic.
                    os.utime(p, (base_t + 2 * fi, base_t + 2 * fi))
            with BatchTrace(spark) as trace:
                body = idempotent_batch_processor(
                    paths, phase_clock=trace.clock, input_deduped=True
                )
                t0 = time.time()
                q = run_ingest_stream(
                    spark,
                    paths,
                    max_files_per_trigger=mfpt,
                    dedup_within_watermark=True,
                    batch_processor=trace.wrap(body),
                )
                try:
                    q.processAllAvailable()
                    wall = time.time() - t0
                    batches = [
                        r for r in trace.records(q) if r["num_input_rows"] > 0
                    ]
                finally:
                    # always stop before the finally-rmtree below deletes
                    # the landing/checkpoint dirs out from under a live
                    # query
                    try:
                        q.stop()
                    except Exception:
                        pass
            batch_ms = sorted(r["batch_duration_ms"] for r in batches)
            fact_rows = {
                t: spark.read.parquet(paths.table(t)).count()
                for t in ("airwise_data", "battery_data", "airwise_datav1")
            }
            if not warmup:
                runs.append(
                    {
                        "packets": len(lines),
                        "wall_sec": round(wall, 3),
                        "rows_per_sec": round(len(lines) / wall, 1),
                        "micro_batches": len(batch_ms),
                        "batch_ms_p50": batch_ms[len(batch_ms) // 2] if batch_ms else None,
                        "batch_ms_max": batch_ms[-1] if batch_ms else None,
                        "fact_rows": fact_rows,
                        "batches": batches,
                    }
                )
        finally:
            shutil.rmtree(root, ignore_errors=True)
    full = {
        "metric": "streaming_ingest_rows_per_sec",
        "value": runs[-1]["rows_per_sec"] if runs else None,
        "unit": "rows/sec",
        "runs": runs,
    }
    # The scan/shuffle probes need the TPC-H fixture dir; without it,
    # fall back to the cpu-only probe instead of crashing AFTER all the
    # measurement runs completed (r8 ADVICE).
    cal_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if os.path.isdir(cal_dir):
        suite = calibration_suite(spark, cal_dir)
    else:
        suite = {"cpu": calibration(spark)}
    full["calibration_sec"] = suite["cpu"]
    full["calibration_suite"] = suite
    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_stream.json"
    )
    with open(out_path, "w") as f:
        json.dump(full, f)
        f.write("\n")
    printed = [{k: v for k, v in r.items() if k != "batches"} for r in runs]
    print(json.dumps(dict(full, runs=printed)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark("bench")
    # Warm-up: one untimed pass of every headline query at the TARGET
    # SF, so JVM JIT / whole-stage-codegen compilation and file-index
    # listing happen outside the timed region — the timings then
    # measure steady-state query execution (standard JVM benchmarking
    # practice; AQE can pick different physical plans per SF, so
    # warming at a smaller SF misses the codegen the timed plan needs).
    for name in BENCH_QUERIES:
        try:
            REGISTRY[name].builder(spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
        except Exception:
            pass  # warm-up is best-effort; the timed run surfaces real errors

    # Three full SWEEPS over the query list (not 3 back-to-back runs per
    # query): machine-load bursts last seconds, so consecutive runs of
    # one query share the same burst — sweeping decorrelates the noise
    # each min() sees at identical total cost.
    #
    # TWO clocks per run (r5). The headline per-query number is
    # END-TO-END: builder + action, because several builders do eager
    # work (partition-offset count passes, localCheckpoints, Lloyd
    # rounds, index lifecycle writes) that an action-only clock misses
    # (measured: user_copresence_triangles 0.37 s action vs 4.8 s end
    # to end). The action-only minimum (queries_action) is the r1-r4
    # basis. The trace of the run that set each end-to-end minimum is
    # kept too (queries_trace).
    def min_of_sweeps() -> tuple[
        dict[str, float], dict[str, float], dict[str, float], dict[str, dict]
    ]:
        timings: dict[str, float] = {}
        action: dict[str, float] = {}
        traces: dict[str, dict] = {}

        def run(name: str) -> None:
            rec = trace_query(spark, REGISTRY[name].builder, sf_dir)
            t = rec["query.build_s"] + rec["query.action_s"]
            if name not in timings or t < timings[name]:
                timings[name] = t
                traces[name] = rec
            action[name] = min(action.get(name, float("inf")), rec["query.action_s"])

        for _ in range(3):
            for name in BENCH_QUERIES:
                run(name)
        # documented-variance queries: extra back-to-back reps tighten
        # the min (their spread is intrinsic — GC/scheduler-sensitive
        # plans — so 3 sweep samples under-sample the fast mode).
        # The SWEEP-ONLY minimum is preserved separately
        # (``queries_sweep_min``) because r1-r8 minima were sweeps-only:
        # comparing a reps-tightened r9+ min against an r8 sweep-only
        # min is a one-directional bias that could mask a regression
        # (r9 ADVICE).
        sweep_only: dict[str, float] = {}
        for name in HIGH_VARIANCE:
            if name not in timings:
                continue
            sweep_only[name] = timings[name]
            for _ in range(_EXTRA_REPS):
                run(name)
        return (
            {name: round(t, 3) for name, t in timings.items()},
            {name: round(t, 3) for name, t in action.items()},
            {name: round(t, 3) for name, t in sweep_only.items()},
            traces,
        )

    timings, action, sweep_min, traces = min_of_sweeps()

    total = round(sum(timings.values()), 3)
    full = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_action": action,  # action-only clock, the r1-r4 basis
        "action_total": round(sum(action.values()), 3),
        "sf": sf,
        # queries whose minima carry a documented intrinsic spread (and
        # got extra reps): round-over-round comparisons should discount
        # these before flagging a regression
        "variance_class": {n: c for n, c in HIGH_VARIANCE.items()
                           if n in timings},
        # sweep-only minima for the HIGH_VARIANCE queries (the r1-r8
        # sampling basis, before the extra reps tighten the headline
        # min) — compare THESE against pre-r9 baselines
        "queries_sweep_min": sweep_min,
    }
    # one basket, two views: keep the legacy scalar for r1-r7
    # continuity, publish the per-cost-class probes alongside
    suite = calibration_suite(spark, sf_dir)
    full["calibration_sec"] = suite["cpu"]
    full["calibration_suite"] = suite
    # SPARK_GRAFT_BENCH_JITTER=1: a SECOND independent min-of-3 block in
    # the same session, reporting per-query relative spread between the
    # two minima — the number that adjudicates whether a round-over-
    # round move is a plan change or the host-noise envelope. (Not run
    # by the driver: doubles bench cost; run locally when a regression
    # needs a verdict.)
    if os.environ.get("SPARK_GRAFT_BENCH_JITTER"):
        t2, a2, _s2, _t2 = min_of_sweeps()
        jitter = {
            n: round(abs(t2[n] - timings[n]) / max(min(t2[n], timings[n]), 1e-9), 4)
            for n in timings
        }
        js = sorted(jitter.values())
        full["queries_repeat"] = t2
        full["queries_action_repeat"] = a2
        full["jitter_rel"] = jitter
        full["jitter_rel_median"] = js[len(js) // 2]
        full["jitter_rel_p90"] = js[int(len(js) * 0.9)]
    # The driver captures a bounded TAIL of stdout: in r4 the single
    # full JSON line (84 per-query timings, ~2.6 KB) outgrew the window
    # and its head was cut off, so the driver's parse came back null.
    # Three outputs, redundantly: (1) the full JSON persisted to
    # bench_out.json next to this script, plus each minimum's trace
    # (queries_trace, kept off the printed lines for their size), (2)
    # the full line printed early for logs, (3) a SHORT summary line
    # printed LAST — small enough that any tail capture keeps it intact
    # and parseable.
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_out.json")
    with open(out_path, "w") as f:
        json.dump({**full, "queries_trace": traces}, f)
        f.write("\n")
    print(json.dumps(full))
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "calibration_sec": full["calibration_sec"],
                "n_queries": len(timings),
                "action_total": full["action_total"],
                "queries_file": "bench_out.json",
            }
        )
    )


if __name__ == "__main__":
    if "--streaming" in sys.argv:
        streaming_main()
    else:
        main()
