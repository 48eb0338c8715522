"""Physical-plan quality audit (SURVEY.md §4 — the scale contract).

Correctness tests prove the queries return the right rows; these prove
the PLANS are the ones we would want on a 1000-executor cluster reading
100 TB: filters reach the parquet scan, unused columns are pruned,
small dimensions broadcast (never shuffled), aggregates combine
map-side, and nothing degenerates into a cartesian product. Plan shape
is scale-invariant, so asserting it at sf0.001 pins the same plan the
cluster would run.
"""

from __future__ import annotations

import re

import pytest

from meshtastic_airsensor_database_spark.plans import REGISTRY


def plans_of(spark, name: str, sf_dir: str) -> tuple[str, str]:
    """(formatted, simple) physical-plan strings from ONE builder call
    (several builders do eager work — don't pay it twice). The two
    modes matter: node names like CartesianProduct appear in both, but
    exchange PARTITIONING only prints inline in simple mode — formatted
    mode renders it as a detached 'Arguments: SinglePartition' block, so
    a substring check against formatted output is vacuous (r7 finding)."""
    df = REGISTRY[name].builder(spark, sf_dir)
    qe = df._jdf.queryExecution()
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString
    return qe.explainString(jmode("formatted")), qe.explainString(jmode("simple"))


def plan_of(spark, name: str, sf_dir: str) -> str:
    return plans_of(spark, name, sf_dir)[0]


# An Exchange SinglePartition is scale-safe ONLY when what funnels into
# the one task was already AGGREGATED or bounded below it: a partial or
# final aggregate (one row per partition / per group), a driver-side
# literal relation, or a limit-capped child. Narrow row-preserving
# nodes between the exchange and that producer are transparent; hitting
# a scan/join/union/generate first means RAW rows funnel through one
# task — the genuine scale hazard.
_PRODUCER_OK = ("HashAggregate", "ObjectHashAggregate", "SortAggregate",
                "LocalTableScan", "LocalLimit", "GlobalLimit",
                "TakeOrderedAndProject", "ReusedExchange")
_TRANSPARENT = ("Project", "Filter", "ColumnarToRow", "InputAdapter",
                "WholeStageCodegen", "Sort ", "Sort [", "Window",
                "WindowGroupLimit", "Coalesce", "AQEShuffleRead",
                "SerializeFromObject", "DeserializeToObject",
                "RunningWindowFunction", "Subquery",
                # a broadcast equi-join preserves the STREAMED side's
                # boundedness (its left child is the next tree line, so
                # the walk continues into the streamed subtree — which
                # must still reach an aggregate/limit before any scan;
                # vocab_growth_by_source's zero-fill join is the shape)
                "BroadcastHashJoin")


def _node_of(line: str) -> str:
    # strip the simple-mode tree prefix (spaces, ':', '+-', '*(n)')
    return line.lstrip(" :+-*(0123456789)")


def unbounded_single_partition_exchanges(simple_plan: str) -> list[str]:
    """Every 'Exchange SinglePartition' whose subtree, walked through
    row-preserving transparent nodes, does NOT reach an aggregate /
    literal / limit before the first scan/join/union/generate — i.e.
    raw rows funneling through one task."""
    lines = simple_plan.split("\n")
    bad = []
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        j = i + 1
        verdict = None
        while j < len(lines):
            node = _node_of(lines[j])
            if not node:
                break
            if any(node.startswith(p) or p in node.split("(")[0]
                   for p in _PRODUCER_OK) or "partial_" in node:
                verdict = "ok"
                break
            if any(node.startswith(t) for t in _TRANSPARENT):
                j += 1
                continue
            verdict = node  # first non-transparent, non-producer node
            break
        if verdict is None:
            # The walk fell off the plan (blank line / truncated tree)
            # without proving the subtree bounded. An Exchange always
            # has a child, so an unresolved walk means an unrecognized
            # plan shape — fail loud instead of silently passing.
            verdict = "UNRESOLVED subtree below: " + _node_of(line)
        if verdict != "ok":
            bad.append(verdict.strip()[:120])
    return bad


# Queries whose pair-enumeration is intentionally all-pairs (the exact
# oracle-checkable formulations; their scale path is the LSH variants).
ALL_PAIRS_OK = {"jaccard_neardup_pairs", "embedding_neardup_pairs",
                "char_jaccard_neardup_pairs",
                "minhash_jaccard_calibration"}

# Single-row / tiny build sides legitimately use a nested-loop
# broadcast (e.g. one query vector — or one packed row of query
# vectors — crossed with every embedding).
BNLJ_OK = {"embedding_topk_cosine", "embedding_batch_topk",
           "quantized_topk_cosine",
           "ann_ivf_topk", "ann_kmeans_ivf_topk",
           "asof_latest_view_value",
           "embedding_neardup_pairs", "jaccard_neardup_pairs",
           "char_jaccard_neardup_pairs",
           # single aggregated row of packed centroids crossed into the
           # narrow assignment projection (assign_ivf_clusters)
           "semantic_dedup_pairs",
           # single query-vector row crossed into the k'-candidate
           # exact re-rank (plans/vectorq.py::ann_pq_topk)
           "ann_pq_topk",
           # single query-vector row crossed into the vector-ranking arm
           # of the RRF fusion
           "hybrid_search_rrf",
           # same single query-vector broadcast in the ranker-agreement
           # eval (plus a full-outer join of two LIMIT-bounded pools)
           "retrieval_rank_overlap",
           # single vocabulary-size row broadcast into the LM smoothing
           # denominator (operators/lmquality.py::perplexity_scores)
           "doc_perplexity",
           # same LM scorer feeding the per-language tercile cut
           "ccnet_perplexity_buckets",
           # single (n_docs, avgdl) corpus-stats row broadcast into the
           # per-(doc,term) BM25 scoring
           "bm25_topk_docs",
           # single grand-total row broadcast into the per-user support
           # filter (exact heavy hitters)
           "heavy_hitter_users",
           # single corpus-size row broadcast into the per-(doc,term)
           # smoothed-IDF scoring
           "tfidf_top_terms",
           # two single-row totals (n_uni, n_bg) broadcast into the PMI
           # scoring over the vocabulary-sized bigram aggregate
           "bigram_pmi_topk",
           # single query-vector row crossed into the MMR candidate-pool
           # scan (the greedy loop itself runs on the LIMIT-20 pool)
           "mmr_diversified_topk",
           # single packed-centroid row (labels x dim) crossed into the
           # narrow per-vector distance projection
           "cluster_quality_metrics",
           # two single-row stat frames (totals + top-10 sum) crossed
           # into the one-row skew report
           "skew_key_report",
           # single grand-total row (from the MATERIALIZED cell grid)
           # broadcast into the |types|x24 expected-count projection
           "type_hour_chi2",
           # single packed-centroid row (labels x dim) crossed into the
           # narrow per-vector argmin projection
           "nearest_centroid_confusion",
           # oracle-budget all-pairs sample (id_a < id_b range join)
           # over the <=250-doc MinHash calibration frame
           "minhash_jaccard_calibration",
           # single doc-count row broadcast into the vocabulary
           # df-threshold filter
           "oov_rate_by_source"}


def test_no_cartesian_products(spark, sf_dir):
    for name in REGISTRY:
        plan, simple = plans_of(spark, name, sf_dir)
        if name not in ALL_PAIRS_OK:
            assert "CartesianProduct" not in plan, name
        if name not in BNLJ_OK:
            assert "BroadcastNestedLoopJoin" not in plan, name
        # No query may funnel RAW ROWS through one task (a global
        # window/sort over unaggregated data plans as an Exchange
        # SinglePartition fed by scans/projections). Single-partition
        # exchanges whose child is already bounded — a partial
        # aggregate (one row per upstream partition: the standard
        # two-phase global total), a driver literal, a capped limit —
        # are the scale-safe shape and are allowed. NOTE (r7): the
        # previous form of this assertion checked the substring
        # 'Exchange SinglePartition' against FORMATTED explain output,
        # where partitioning prints as a detached 'Arguments:' block —
        # vacuously true. This structural check is the real invariant,
        # and it holds registry-wide with no per-query allowlist.
        bad = unbounded_single_partition_exchanges(simple)
        assert not bad, (name, bad)


@pytest.mark.parametrize(
    "name",
    ["fact_dim_join", "region_supplier_revenue", "top_orders_by_revenue",
     "customers_with_urgent_orders", "customers_without_urgent_orders",
     "top3_orders_per_segment"],
)
def test_dim_joins_broadcast(spark, sf_dir, name):
    """Every dimension join must be a broadcast hash join — a shuffled
    join on a small dim would add a full fact-table exchange at scale."""
    plan = plan_of(spark, name, sf_dir)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pricing_summary_scan_is_pruned_and_pushed(spark, sf_dir):
    plan = plan_of(spark, "pricing_summary", sf_dir)
    scan = plan[plan.index("(1) Scan parquet"):]
    scan = scan[: scan.index("\n\n")]
    # date filter reaches the parquet reader (row-group skipping)
    assert re.search(r"PushedFilters: \[.*l_shipdate", scan), scan
    # projection pruned into the scan: no un-referenced wide columns
    assert "l_comment" not in scan, scan
    assert "l_orderkey" not in scan, scan


def test_aggregates_have_mapside_partials(spark, sf_dir):
    """groupBy aggregates must run partial (map-side combine) before the
    exchange — the shuffle then carries one row per (partition, key),
    not one per input row."""
    for name in ("pricing_summary", "hourly_avg_by_node", "token_stats_by_lang"):
        plan = plan_of(spark, name, sf_dir)
        assert "partial_" in plan, name


def test_minhash_candidates_plan_has_no_join(spark, sf_dir):
    """The LSH candidate generator is bucket-grouping: signatures are
    computed ONCE and pairs come from array expressions inside each
    bucket — a band self-join would evaluate the signature pipeline
    twice and double-shuffle the bands."""
    plan = plan_of(spark, "minhash_neardup_candidates", sf_dir)
    for op in ("Join", "CartesianProduct"):
        assert op not in plan, plan


@pytest.mark.parametrize(
    "name",
    ["embedding_lsh_neardup_pairs", "semantic_contaminated_evals",
     "hyperplane_lsh_bucket_sizes"],
)
def test_sign_lsh_plans_have_no_per_element_md5(spark, sf_dir, name):
    """The md5 hyperplane queries band through
    functions/vectors.py::sign_band_rows: the signs are a driver-built
    literal matrix of ±1.0, so the optimized plan never hashes the
    plane salt per element per row."""
    from meshtastic_airsensor_database_spark.functions.vectors import HPLSH_SALT

    df = REGISTRY[name].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert HPLSH_SALT not in plan, name


def test_ivf_assignment_is_narrow_no_vector_shuffle(spark, sf_dir):
    """IVF cluster assignment runs as a narrow transform+array_max over
    a broadcast centroid array: the vector relation is never exchanged.
    A row_number window would shuffle n x C rows and even a map-side
    max_by exchanges one row per vector — at 100 TB the assignment must
    touch each vector where it already lives. The only permitted
    exchanges are broadcasts and the single-row centroid pack
    (SinglePartition)."""
    plan = plan_of(spark, "ann_ivf_topk", sf_dir)
    assert "Window" not in plan, plan
    assert "partial_max_by" not in plan, plan
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_events_ts_range_predicate_is_pushed(spark, sf_dir):
    """A time-range filter on the events load must reach PushedFilters
    (parquet row-group/page min-max pruning). If the load path wraps the
    timestamp in an expression (cast/to_utc_timestamp NTZ
    normalization), the predicate stays in DataFilters only and every
    time-range query becomes a full scan at 100 TB."""
    from pyspark.sql import functions as F

    from meshtastic_airsensor_database_spark.io_utils import load

    ev = load(spark, sf_dir, "events").filter(
        F.col("ts") >= F.lit("2024-06-01").cast("timestamp")
    )
    plan = ev._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(ts", plan), plan


def test_filters_reach_parquet_scans(spark, sf_dir):
    """Queries that filter on scan columns must show a non-empty
    PushedFilters on at least one parquet scan."""
    for name in ("top_orders_by_revenue", "outage_episodes",
                 "aligned_type_buckets", "asof_latest_view_value"):
        plan = plan_of(spark, name, sf_dir)
        assert re.search(r"PushedFilters: \[[^\]]", plan), name


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key join with ZERO Exchange —
    the write-time bucket layout replaces the per-query shuffle."""
    from meshtastic_airsensor_database_spark.io_utils import load
    from meshtastic_airsensor_database_spark.sources.ddl import write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
        orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        write_bucketed(li, "li_bkt", ["l_orderkey"], 8, sort_cols=["l_orderkey"])
        write_bucketed(orders, "ord_bkt", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
        joined = spark.table("li_bkt").join(
            spark.table("ord_bkt"),
            spark.table("li_bkt").l_orderkey == spark.table("ord_bkt").o_orderkey,
        )
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan  # co-located: no shuffle at all
        assert joined.count() == load(spark, sf_dir, "lineitem").count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS li_bkt")
        spark.sql("DROP TABLE IF EXISTS ord_bkt")


def test_partitioned_sink_reads_are_partition_pruned(spark, sf_dir, tmp_path):
    """parquet_table_sink partitions by event date; a date-filtered read
    must show the filter in PartitionFilters (directory pruning — the
    scan never lists the other dates' files)."""
    from pyspark.sql import functions as F

    from meshtastic_airsensor_database_spark.io_utils import load
    from meshtastic_airsensor_database_spark.sources.sinks import parquet_table_sink

    ev = load(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    path = str(tmp_path / "ev_part")
    parquet_table_sink(ev, path, partition_by=("event_date",), mode="overwrite")

    some_date = ev.select("event_date").first()[0]
    read = spark.read.parquet(path).filter(F.col("event_date") == F.lit(some_date))
    plan = read._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert re.search(r"PartitionFilters: \[[^\]]*event_date", plan), plan
    assert read.count() == ev.filter(F.col("event_date") == F.lit(some_date)).count()


def test_bucketed_range_join_stays_equi_join_without_broadcast(spark, sf_dir):
    """interval_event_stats promises 'no BroadcastNestedLoopJoin at any
    size': with broadcast disabled (the 100-TB case — neither side fits)
    the bucket-explode reduction must still plan as an EQUI join
    (SortMergeJoin/ShuffledHashJoin on the bucket+key), never a nested
    loop or cartesian over the raw range predicate."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, "interval_event_stats", sf_dir)
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_tsq_aggregates_mapside_partials(spark, sf_dir):
    """Funnel and MAD-outlier queries aggregate per user/type; both must
    combine map-side before their exchange."""
    for name in ("funnel_conversion", "value_outliers_mad"):
        plan = plan_of(spark, name, sf_dir)
        assert "partial_" in plan, name


def test_curation_aggregates_mapside_partials(spark, sf_dir):
    """Decontamination + repetition run two-level hash aggregates; both
    levels must combine map-side before their exchange."""
    for name in ("contaminated_eval_docs", "doc_repetition_signals"):
        plan = plan_of(spark, name, sf_dir)
        assert "partial_" in plan, name


def test_chunk_pack_window_is_sharded(spark, sf_dir):
    """The packing cumsum window must partition by shard — a global
    (empty-partition) window would serialize the corpus through ONE
    task. SinglePartition in this plan means the sharding regressed."""
    plan = plan_of(spark, "chunk_pack_spans", sf_dir)
    assert "Window" in plan, plan
    assert re.search(r"hashpartitioning\(shard", plan), plan
    assert "SinglePartition" not in plan, plan


def test_ffd_packer_is_grouped_arrow_batch(spark, sf_dir):
    """FFD packing must run as grouped-map pandas (one Arrow batch per
    shard), never a collect-to-driver loop."""
    plan = plan_of(spark, "ffd_bin_packing", sf_dir)
    assert "FlatMapGroupsInPandas" in plan, plan


def test_rollup_read_never_touches_raw_facts(spark, sf_dir):
    """incremental_rollup_hourly's plan must scan ONLY the materialized
    rollup — if the raw events path appears, the continuous aggregate
    regressed into a recompute."""
    plan = plan_of(spark, "incremental_rollup_hourly", sf_dir)
    assert "rollup_maint" in plan or "hourly" in plan, plan
    assert "events.parquet" not in plan, plan


def test_curation_funnel_aggregates_mapside(spark, sf_dir):
    """The funnel's stage counts and dedup fingerprint agg must combine
    map-side; the decontamination join must not be a nested loop."""
    plan = plan_of(spark, "curation_funnel", sf_dir)
    assert "partial_" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_runtime_bloom_filter_prunes_shuffle_join(spark, tmp_path):
    """Runtime row-level filtering is live: when a selectively-filtered
    dimension is too big to broadcast, the optimizer injects a
    bloom_filter_agg on the dim side and a might_contain filter on the
    fact side, so the 100-TB fact shuffle only carries rows that can
    join. Local thresholds are lowered to mimic cluster-scale sizes —
    the injection rule itself is what this pins."""
    from pyspark.sql import functions as F

    fact_p, dim_p = str(tmp_path / "fact"), str(tmp_path / "dim")
    spark.range(0, 50_000).select(
        (F.col("id") % 5_000).alias("k"), F.col("id").alias("v")
    ).write.parquet(fact_p)
    spark.range(0, 5_000).select(
        F.col("id"), (F.col("id") % 7).alias("attr")
    ).write.parquet(dim_p)
    lowered = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    saved = {k: spark.conf.get(k) for k in lowered}
    try:
        for k, v in lowered.items():
            spark.conf.set(k, v)
        assert spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.enabled"
        ) == "true"
        fact = spark.read.parquet(fact_p)
        dim = spark.read.parquet(dim_p).filter(F.col("attr") == 3)
        plan = (
            fact.join(dim, fact.k == dim.id)
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        assert "bloom_filter_agg" in plan and "might_contain" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_cusum_drift_single_shuffle(spark, sf_dir):
    """The whole CUSUM detector - per-key mean, cumsum, running
    extrema, final per-key aggregate - reuses ONE hash partitioning on
    user_id: exactly one Exchange in the physical plan."""
    plan = (
        REGISTRY["value_drift_cusum"].builder(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan


def test_dsir_weight_join_broadcasts_and_topk_is_partial(spark, sf_dir):
    """The <=1024-row bucket-weight table must broadcast back onto the
    token stream (a shuffled join would exchange every token row), and
    the Gumbel top-k must compile to TakeOrderedAndProject, never a
    global sort of the scored corpus."""
    plan = plan_of(spark, "dsir_sampled_docs", sf_dir)
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_vocab_encode_broadcasts_and_vocab_topk_is_partial(spark, sf_dir):
    """The vocabulary is broadcast-sized by construction: its selection
    is a partial top-k (TakeOrderedAndProject) and the encode join must
    be a BroadcastHashJoin — shuffling the exploded token stream
    against a 20-row vocab would be the classic small-dim mistake."""
    plan = plan_of(spark, "vocab_encoded_docs", sf_dir)
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_fuzzy_match_blocking_is_equi_join(spark, sf_dir):
    """ER blocking must stay an equi-join on the derived block key with
    Levenshtein evaluated post-join — a similarity THETA join (BNLJ /
    cartesian) is exactly what blocking exists to avoid."""
    plan = plan_of(spark, "fuzzy_name_matches", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "levenshtein" in plan, plan


def test_triangle_pipeline_all_equi_joins(spark, sf_dir):
    """Wedge enumeration and wedge closing are plain equi-joins under
    the degree orientation; any nested-loop fallback would be the
    quadratic naive triangle join."""
    plan = plan_of(spark, "user_copresence_triangles", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_profile_is_single_aggregate_no_join(spark, sf_dir):
    """The all-column profile must stay one scan + one aggregate tree
    (Expand for the exact distincts) — per-column subqueries would scan
    the table once per column."""
    plan = plan_of(spark, "events_column_profile", sf_dir)
    assert "Join" not in plan, plan
    # formatted explain lists each node in the tree AND the detail
    # section; count unique scan node ids
    assert len(set(re.findall(r"\(\d+\) Scan parquet", plan))) == 1, plan
    assert "Expand" in plan, plan


def test_stats_windows_are_keyed_not_global(spark, sf_dir):
    """The KS CDF walk, the transition-matrix lag, and the cohort
    aggregations must all partition their windows/aggs by key — a
    single-partition exchange anywhere would serialize the whole table
    through one task at scale."""
    for name in ("value_ks_drift", "event_transition_matrix",
                 "cohort_retention", "type_corr_matrix",
                 "time_weighted_avg", "m4_downsample"):
        plan = plan_of(spark, name, sf_dir)
        assert "Exchange SinglePartition" not in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)


def test_per_user_rank_queries_have_no_global_window(spark, sf_dir):
    """The r4-verdict de-globalization item: rfm_segments (3x NTILE),
    pareto_user_share (rank + running sum) and token_budget_selection
    (bucket prefix) must not funnel the per-user/per-doc dimension
    through one task — no unpartitioned WindowExec, which Spark plans
    as Exchange SinglePartition. The quartiles/rank/cumsum come from
    the partition-offset machinery in operators/ordered.py instead;
    token_budget walks its ≤10^4+1 bounded bucket table on the driver."""
    for name in ("rfm_segments", "pareto_user_share",
                 "token_budget_selection"):
        plan = plan_of(spark, name, sf_dir)
        assert "Exchange SinglePartition" not in plan, (name, plan)


def test_corr_matrix_self_join_is_equi_on_hour(spark, sf_dir):
    """The pair generator must key on the hour (equi-join with the
    type inequality as a residual filter), never a nested loop over
    the hourly grid."""
    plan = plan_of(spark, "type_corr_matrix", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_multi_consumer_stats_queries_scan_once(spark, sf_dir):
    """Queries whose totals/marginals re-aggregate an intermediate must
    not re-run the fact scan per consumer: DAU/WAU folds both counts
    into one fan-out agg, Pareto and the data card take their grand
    totals from a full-frame window over the AGGREGATED rows, the
    seasonal pair takes its profile and medians from keyed windows over
    the hourly series (no join back, which re-planned the inlined CTEs
    per reference), and chi2 materializes the contingency grid (0 scans
    in the displayed plan — the single scan ran at checkpoint time)."""
    for name, max_scans in (("dau_wau_stickiness", 1),
                            ("pareto_user_share", 1),
                            ("corpus_data_card", 1),
                            ("seasonal_decomposition", 1),
                            ("seasonal_anomaly_flags", 1),
                            ("type_hour_chi2", 0)):
        plan = plan_of(spark, name, sf_dir)
        n = len(set(re.findall(r"\(\d+\) Scan parquet", plan)))
        assert n <= max_scans, (name, n, plan)
        if name.startswith("seasonal_"):
            assert "BroadcastHashJoin" not in plan, (name, plan)


def test_m4_downsample_is_one_aggregate_no_window(spark, sf_dir):
    """First/last come from min_by/max_by inside the one aggregate: no
    Window (a ROW_NUMBER form sorts the raw rows once per direction),
    one exchange, of map-side partials. The struct ordering key is not
    fixed-width, so the aggregate is sort-based."""
    plan = plan_of(spark, "m4_downsample", sf_dir)
    assert re.search(r"\(\d+\) Window\b", plan) is None, plan
    assert len(set(re.findall(r"\(\d+\) Exchange\b", plan))) == 1, plan
    assert "partial_min_by" in plan and "partial_max_by" in plan, plan


def test_unpivot_is_single_scan_expand(spark, sf_dir):
    """The wide->long reshape must compile to ONE scan + Expand; the
    4-way unioned-scan formulation would read the table four times."""
    plan = plan_of(spark, "unpivot_metric_stats", sf_dir)
    assert len(set(re.findall(r"\(\d+\) Scan parquet", plan))) == 1, plan
    assert "Expand" in plan, plan


def test_line_numbering_has_no_global_window(spark, sf_dir):
    """line_numbering must be the two-pass partition-offset form: one
    range shuffle of the slim projection, narrow id arithmetic on top.
    The old Window.orderBy-over-everything plan funneled the entire
    table through a single-partition WindowExec — a 100x-scale killer
    (the VERDICT r3 defect). The ranged frame is localCheckpoint-pinned
    (the r4 ADVICE defect: re-executing repartitionByRange re-samples
    boundaries, so pass-2 partitions could drift from the pass-1 counts)
    — the numbering plan therefore reads the one materialized RDD, with
    no Window, no exchange of any kind, and no re-shuffle."""
    plan = plan_of(spark, "line_numbering", sf_dir)
    assert "Window" not in plan, plan
    assert "Exchange" not in plan, plan  # narrow arithmetic over the checkpoint
    assert "ExistingRDD" in plan, plan  # the pinned (checkpointed) ranged frame


def test_line_numbering_is_a_permutation(spark, sf_dir):
    """Both passes must describe the SAME partitioning: the output is
    exactly 0..N-1, each once (duplicate or missing numbers are the
    signature of boundary drift between the counts and numbering pass)."""
    from meshtastic_airsensor_database_spark.plans.registry import REGISTRY

    out = REGISTRY["line_numbering"].builder(spark, sf_dir).collect()
    nums = sorted(r["line_number"] for r in out)
    assert nums == list(range(len(out)))


def test_session_window_stats_is_single_agg_no_window_function(spark, sf_dir):
    """Native session windows must merge sessions INSIDE the hash
    aggregate: no window-function node, no single-partition exchange —
    the one exchange is the keyed user_id repartition."""
    plan = plan_of(spark, "session_window_stats", sf_dir)
    assert re.search(r"\(\d+\) Window\b", plan) is None, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_weighted_sample_is_shuffle_free_takeordered(spark, sf_dir):
    """Derandomized A-ES is one narrow codegen projection into
    TakeOrderedAndProject — any Exchange here means the sample stopped
    being mergeable-top-K and became a global sort."""
    plan = plan_of(spark, "weighted_quality_sample", sf_dir)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan, plan


def test_vocab_growth_aggregates_are_partialed(spark, sf_dir):
    """Both hash aggs (per-token MIN(source), per-source count) must
    combine map-side so the exchanges carry distinct tokens / sources,
    never raw occurrences."""
    plan = plan_of(spark, "vocab_growth_by_source", sf_dir)
    assert "partial_min" in plan, plan
    assert "partial_count" in plan, plan


def test_seasonal_and_batching_plans_have_no_global_exchange(spark, sf_dir):
    """The decomposition pair's windows/aggs key on event_type, the
    batching rank keys on shard, and the leakage joins key on doc_id —
    none may funnel through a single partition."""
    for name in ("seasonal_decomposition", "seasonal_anomaly_flags",
                 "length_grouped_batches", "split_leakage_report"):
        plan = plan_of(spark, name, sf_dir)
        assert "Exchange SinglePartition" not in plan, (name, plan)


def test_novelty_and_overlap_stay_hash_agg_shaped(spark, sf_dir):
    """doc_novelty_scores must never sort-window the gram stream (the
    df==1 owner comes from MIN on the gram rollup), and
    source_overlap_jaccard must never self-join grams (pairs expand
    narrowly from the bounded per-gram source set)."""
    plan = plan_of(spark, "doc_novelty_scores", sf_dir)
    assert "Window" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    plan = plan_of(spark, "source_overlap_jaccard", sf_dir)
    assert "SortMergeJoin" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_cms_counters_are_bounded_partial_aggs(spark, sf_dir):
    """The CMS build must be a two-level hash agg on (j, bucket) —
    bounded at depth x width rows — with the counter matrix BROADCAST
    into the estimate join, never shuffled with the candidates."""
    plan = plan_of(spark, "cms_heavy_hitters", sf_dir)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_streaming_foreachbatch_inner_plans_audit(spark, tmp_path):
    """Extend the structural single-partition audit to the REAL
    streaming path (r7 verdict #3): run the stateful ingest topology
    end-to-end on a batch exercising every route (all three fact
    tables, nodeinfo dim upsert, quarantine, rollup maintenance),
    capture each foreachBatch inner plan right before its action via
    the plan_probe hook, and walk every one with
    unbounded_single_partition_exchanges — the r7 audit covered only
    the 194 batch-query plans and eyeballed these."""
    import json

    from meshtastic_airsensor_database_spark.sources.landing import (
        write_packet_fixture,
    )
    from meshtastic_airsensor_database_spark.streaming.ingest import (
        IngestPaths,
        process_packet_batch,
        run_ingest_stream,
    )

    from .fixtures import as_json_lines

    landing = str(tmp_path / "pa_landing")
    out = str(tmp_path / "pa_out")
    # TWO batches (max_files_per_trigger=1): the rollup's epoch-replay
    # guard subtree (window over existing ∪ new) only exists once a
    # prior batch created the rollup — batch 2 audits the guarded plan
    write_packet_fixture(landing, as_json_lines(), "b0.jsonl")
    # batch 2 needs FRESH packet ids (same composite keys would be
    # dropped whole by the cross-batch watermark dedup, leaving no v0
    # rows to maintain the rollup with)
    import json as _json

    def _shift(line):
        try:
            p = _json.loads(line)
        except ValueError:
            return line  # keep the corrupt row corrupt
        if isinstance(p.get("id"), int):
            p["id"] += 10_000
        if isinstance(p.get("timestamp"), int):
            p["timestamp"] += 60
        return _json.dumps(p)

    write_packet_fixture(
        landing, [_shift(ln) for ln in as_json_lines()], "b1.jsonl"
    )
    paths = IngestPaths(landing_dir=landing, out_dir=out)

    captured: list[tuple[str, str]] = []
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString

    def probe(label, df):
        captured.append(
            (label, df._jdf.queryExecution().explainString(jmode("simple")))
        )

    def processor(batch, epoch_id):
        # epoch_tag mirrors the real idempotent_batch_processor, so
        # the audited rollup_delta plan is the epoch-named one
        process_packet_batch(batch, paths,
                             plan_probe=probe, epoch_tag=f"audit:{epoch_id}")

    q = run_ingest_stream(
        spark, paths, dedup_within_watermark=True, batch_processor=processor,
        max_files_per_trigger=1,
    )
    try:
        q.processAllAvailable()
        # The batch DF handed to foreachBatch scans the micro-batch
        # output as an ExistingRDD — the stateful dedup runs in the
        # STREAMING engine's own executed plan, audited here too.
        outer = q._jsq.explainInternal(False)
    finally:
        q.stop()

    labels = {lbl for lbl, _ in captured}
    # every sink family executed (fixture has all routes + corrupt rows)
    assert {"stats", "dlq_write", "dim_upsert", "facts_airwise_data",
            "facts_battery_data", "facts_airwise_datav1",
            "rollup_delta"} <= labels, labels
    # one delta per batch, each a blind append: its plan scans the
    # batch only, never the rollup table it writes to
    rollup_plans = [p for lbl, p in captured if lbl == "rollup_delta"]
    assert len(rollup_plans) == 2, len(rollup_plans)
    assert not any("airwise_hourly" in p for p in rollup_plans), rollup_plans[-1]
    for label, simple in captured:
        bad = unbounded_single_partition_exchanges(simple)
        assert not bad, (label, bad, simple)
    assert "DeduplicateWithinWatermark" in outer, outer
    bad = unbounded_single_partition_exchanges(outer)
    assert not bad, (bad, outer)


def test_streaming_monitor_plan_audit(spark, tmp_path):
    """Same structural audit over the offline-monitor topology's
    executed plan (applyInPandasWithState): capture the last trigger's
    physical plan via explainInternal once a batch has run and assert
    no raw-row single-partition funnel."""
    import json
    import time

    from meshtastic_airsensor_database_spark.operators.parse import (
        extract_nodeinfo,
        json_envelope_parse,
    )
    from meshtastic_airsensor_database_spark.sources.landing import (
        packet_stream_source,
        write_packet_fixture,
    )
    from meshtastic_airsensor_database_spark.streaming.monitor import (
        offline_monitor_stream,
    )
    from pyspark.sql import functions as F

    landing = str(tmp_path / "mon_landing")
    hb = json.dumps({
        "from": 1, "id": 1000, "type": "nodeinfo", "timestamp": 1000,
        "payload": {"id": "!1", "longname": "Farm1"},
    })
    write_packet_fixture(landing, [hb], "b0.jsonl")

    raw = packet_stream_source(spark, landing)
    heartbeats = extract_nodeinfo(json_envelope_parse(raw)).select(
        "node", "longname", F.col("updated_ts").alias("ts")
    )
    events = offline_monitor_stream(heartbeats, threshold_minutes=60)
    q = (
        events.writeStream.format("memory")
        .queryName("monitor_plan_audit")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "mon_ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 60
        while not q.recentProgress and time.time() < deadline:
            time.sleep(0.2)
        assert q.recentProgress, "no trigger executed within 60s"
        simple = q._jsq.explainInternal(False)
    finally:
        q.stop()
    assert "FlatMapGroupsInPandasWithState" in simple, simple
    bad = unbounded_single_partition_exchanges(simple)
    assert not bad, (bad, simple)


def test_normalize_plan_keeps_subqueries_distinct():
    """r9 ADVICE: flattening every subquery id to one literal would
    regenerate a plan that SWAPS two subqueries as a zero-line diff.
    The normalizer must renumber them per plan in first-appearance
    order — distinct ids stay distinct, and the numbering is stable
    under session-global id shifts."""
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "dump_plans", os.path.join(root, "tools", "dump_plans.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    a = mod.normalize_plan("Subquery subquery#40\nreuses subquery#40\nSubquery subquery#55")
    b = mod.normalize_plan("Subquery subquery#41\nreuses subquery#41\nSubquery subquery#77")
    # stable under a session-global id shift
    assert a == b
    # the two distinct subqueries must NOT collapse to one id
    lines = a.splitlines()
    assert lines[0].split()[-1] == lines[1].split()[-1]
    assert lines[0].split()[-1] != lines[2].split()[-1]
    # bare spellings get the same treatment
    c = mod.normalize_plan("subquery 40 then subquery 55 then subquery 40")
    assert c == "subquery 1 then subquery 2 then subquery 1"


def test_normalize_plan_masks_only_partition_offsets():
    """The partition-offset map's values come from a range-partition
    sample seeded by the session-global RDD id, so they move with
    session history: masked. Any other map literal (an IVF centroid
    pack, say) is plan content and stays."""
    from tools.dump_plans import normalize_plan

    def offsets(values: str) -> str:
        return (
            f"element_at(map(keys: [0,1,2,3], values: [{values}]), "
            "cast(shiftright(monotonically_increasing_id(), 33) as int), None, true)"
        )

    fresh = normalize_plan(offsets("0,1168,2481,3752"))
    later = normalize_plan(offsets("0,1317,2548,3777"))
    assert fresh == later == offsets("<offsets>")
    assert normalize_plan(fresh) == fresh
    pack = "element_at(map(keys: [0,1], values: [[0.5,0.25],[1.0,2.0]]), cid#7)"
    assert normalize_plan(pack) == pack.replace("#7", "#1")
    ints = "element_at(map(keys: [0,1], values: [3,4]), x#2)"
    assert normalize_plan(ints) == ints.replace("#2", "#1")
