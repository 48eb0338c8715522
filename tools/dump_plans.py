"""Regenerate EXPLAIN.md: formatted physical plans of representative
queries, one per operator family, at sf0.1 — committed so plan shape
(pushdown, pruning, broadcast, partial aggs, no self-joins) is
reviewable without running Spark. tests/test_plans.py asserts the same
properties mechanically.

    python tools/dump_plans.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from meshtastic_airsensor_database_spark.plans import REGISTRY
from meshtastic_airsensor_database_spark.session import get_spark

SHOWCASE = [
    ("pricing_summary", "filter pushdown + column pruning + partial/final hash agg"),
    ("region_supplier_revenue", "6-way snowflake join: every dimension broadcast"),
    ("customers_without_urgent_orders", "anti join (NOT EXISTS) without shuffle of the dim"),
    ("hourly_avg_by_node", "event-time window aggregation (flagship)"),
    ("latest_reading_per_node", "row_number window, single shuffle on the key"),
    ("topk_expensive_orders", "global top-k -> TakeOrderedAndProject (no full sort)"),
    ("minhash_neardup_candidates", "LSH bucket-grouping: signature pipeline runs ONCE, no self-join"),
    ("embedding_topk_cosine", "brute-force cosine via aggregate/zip_with, one-row broadcast"),
    ("ann_ivf_topk", "IVF assignment as narrow transform+array_max over a broadcast centroid pack (vector relation never exchanged)"),
    ("embedding_batch_topk", "multi-query top-k: two-stage partial top-k merge, no Window over the n x Q scored set"),
    ("interval_event_stats", "range join reduced to a bucketed equi-join (no nested loop at any size)"),
    ("contaminated_eval_docs", "train/eval n-gram join on 8-byte hashed keys, two-level partial agg"),
    ("chunk_pack_spans", "sequence packing cumsum window SHARDED (never SinglePartition)"),
    ("salted_brand_quantities", "skew-salted equi-join; at this SF the replicated build side still broadcasts (salting inert but harmless) - the (key, _salt) exchange shape with broadcast off is pinned by test_skew.py"),
    ("quantized_topk_cosine", "int8-quantized cosine scan as ONE mapInArrow kernel (zero-copy list-buffer reshape; exact int arithmetic keeps oracle bit-parity) (r5)"),
    ("incremental_rollup_hourly", "merge-then-finalize read over the rollup's append-only deltas (one hour x key aggregate over a scan of the rollup, no raw-fact rescan)"),
    ("curation_funnel", "whole curation pipeline as one lineage: fingerprint agg + hashed-key gram join, map-side counts"),
    ("semantic_dedup_pairs", "SemDeDup: zero-shuffle centroid assignment, one bucket-grouping shuffle for in-cluster pairs, exact verify"),
    ("ann_pq_topk", "derandomized PQ: 4 subspace Lloyd codebooks (broadcast packs), narrow argmin encode, K-row ADC joins, 20-candidate exact re-rank — oracle-proven end to end (r5)"),
    ("rag_chunk_spans", "overlapping chunker: narrow per-row explode with bounded fan-out, no shuffle"),
    ("value_histogram", "fixed-bin histogram: map-side partial agg, one exchange on (type, bin)"),
    ("ewma_value_smooth", "truncated EWMA: K lags through ONE per-key window sort, no recurrence"),
    ("dsir_sampled_docs", "DSIR: bucket agg -> broadcast weight join -> per-doc agg -> partial top-k (no vocab-size shuffle)"),
    ("fuzzy_name_matches", "ER blocking: plain equi-join on the derived block key, Levenshtein in codegen post-join"),
    ("prefix_jaccard_neardups", "prefix-filtered exact set-similarity join: df-order via count join (no global rank), one bucket-pairing shuffle"),
    ("vocab_encoded_docs", "vocab top-k via TakeOrdered, broadcast encode join, one per-doc agg"),
    ("value_acf_by_type", "ACF: all three lags through ONE per-type window sort, corr as partialed hash agg"),
    ("hll_distinct_users_rollup", "mergeable HLL partials: map-side sketch agg, union at query grain"),
    ("standardized_embedding_probe", "dim stats via constant-width shuffle; z-scoring folded into a narrow transform"),
    ("table_constraint_report", "Deequ-style gates: one aggregation pass per table of row rules, counts-only uniqueness exchange, AQE-sized referential joins"),
    ("value_ks_drift", "exact KS: binned CDF walk as per-key window (no SinglePartition exchange anywhere)"),
    ("time_weighted_avg", "LOCF time-weighted mean: lead window + hash agg share ONE user_id exchange"),
    ("m4_downsample", "M4: first/last via row_number windows + min/max agg on the same (user,bucket) key"),
    ("cohort_retention", "cohort retention: dedup-first bounds every later stage to users x weeks"),
    ("bm25_topk_docs", "BM25: query-term-only explode, broadcast df + corpus stats, TakeOrdered top-k"),
    ("winsorized_value_stats", "winsorize: 5-row broadcast bounds join, two hash aggs on one key"),
    ("unpivot_metric_stats", "unpivot: ONE scan + Expand (vs 4 unioned scans) into a hash agg"),
    ("heavy_hitter_users", "exact heavy hitters: per-key partial agg + single-row total broadcast, integer support test"),
    ("bigram_pmi_topk", "PMI collocations: bigrams via narrow transform over token arrays (no posexplode join-back), vocab-sized marginal joins, TakeOrdered top-k"),
    ("zipf_token_slope", "Zipf fit: vocab-sized rank window per lang, regr_slope as partialed hash agg"),
    ("last_touch_attribution", "last-touch attribution: ONE LOCF window pass carries touch id/type/ts, no join"),
    ("daily_rollup_from_hourly", "rollup cascade: daily grain re-merged from stored hourly partials, no raw rescan"),
    ("line_numbering", "global sequence via partition-offset numbering: one range shuffle + narrow id arithmetic, NO single-partition WindowExec (r4 fix)"),
    ("ann_kmeans_ivf_topk", "trained-centroid IVF: deterministic Lloyd's rounds as broadcast argmin + (cluster,dim) partial aggs; probe/re-rank broadcast-only"),
    ("session_window_stats", "native session windows: sessions merge inside ONE hash agg, no ordered window over the event table"),
    ("split_leakage_report", "near-dup split leakage: LSH-verified pairs x md5 split via two doc_id equi-joins into a <=6-row agg"),
    ("vocab_growth_by_source", "vocab growth: per-token MIN(source) agg (shuffle carries distinct tokens), running sum over <=|sources| rows"),
    ("tfidf_top_terms", "TF-IDF keywords: doc-term partial aggs, vocab-sized df join, single-row corpus broadcast, doc-partitioned rank window"),
    ("seasonal_decomposition", "seasonal decomposition: ONE keyed window sort over the hourly pre-aggregate, broadcast hour-of-day profile join"),
    ("cms_heavy_hitters", "count-min sketch: posexplode into a (depth x width)-bounded partial agg; estimates via broadcast counter join + MIN"),
    ("doc_novelty_scores", "corpus novelty: hash aggs only (df==1 owner via MIN on the same gram rollup), 8-byte hashed grams, no sort-window"),
    ("source_overlap_jaccard", "source overlap: NO self-join — per-gram collect_set(source) bounded by the source domain, narrow pair expansion, broadcast size re-attach"),
    ("cluster_quality_metrics", "cluster quality: (label,dim)-bounded centroid agg + narrow broadcast-pack distance projection, keyed final agg"),
    ("table_checksum_report", "content checksums: one scan per table into a two-value xor/count aggregate (map-side partials; one-row exchange per table)"),
    ("skew_key_report", "skew diagnosis: per-key partial agg + single-row broadcasts + TakeOrdered top-10 (per-key counts never sort globally)"),
    ("sentiment_by_source", "lexicon sentiment: one tokenization per row feeding both filtered counts, keyed hash agg"),
    ("span_deduped_docs", "exact-substring dedup transform: 8-byte hashed gram DF + keeper join, removed positions folded to ONE array per doc, rebuild via indexed-lambda filter (token arrays never shuffle)"),
    ("ab_welch_test", "Welch A/B readout: ONE conditional-agg pass (both arms share it), narrow algebra after"),
    ("bootstrap_value_ci", "derandomized bootstrap: two-level explode (4 draws per md5 digest), fan-out before the x48 amplification, (type,b)-bounded exchange"),
    ("mannwhitney_value_test", "Mann-Whitney U: midranks via KEYED per-type rank windows, one hash agg after"),
    ("top_session_paths", "session journeys: sessionize + in-session rank + path agg all inside ONE user-keyed exchange (WindowGroupLimit caps rn<=3 before the sort output), TakeOrdered top-k"),
    ("dau_wau_stickiness", "rolling COUNT DISTINCT: single scan, x7 day fan-out collapsed map-side by the (day,user) agg, DAU/WAU from one final day agg — no join, no window"),
    ("pareto_user_share", "Pareto coverage: partition-offset prefix machine — one range shuffle + zero-shuffle Arrow cumsum, NO unpartitioned window (r5 de-globalization)"),
    ("type_hour_chi2", "chi-squared test: materialized contingency grid (one fact scan), broadcast marginal joins over <= types x 24 rows"),
    ("linear_attribution", "multi-touch attribution: user-keyed equi-join with the lookback as residual, per-purchase window count, |touch_type| agg"),
    ("orders_per_customer_histogram", "TPC-H Q13: aggregate-before-join left join (exchange carries per-customer counts, never raw orders), zero-bucket preserved"),
    ("nearest_centroid_confusion", "nearest-centroid eval: (label,dim)-bounded rounded-centroid agg, broadcast pack, narrow argmin, |labels|^2 confusion agg"),
    ("embedding_corr_pairs", "distributed covariance: numpy Gram partials via mapInPandas (one matmul per Arrow batch), dim^2-bounded exchange, materialized grid reused by every consumer"),
    ("corpus_data_card", "data card: one scan into a |lang|-wide agg, corpus share from a full-frame window over the aggregated rows"),
    ("conversion_latency_stats", "time-to-convert: one LOCF window (running first-view), per-user min, one-reduce percentiles"),
    ("rfm_segments", "RFM: exact NTILE from partition-offset global ranks (3 range shuffles, narrow tile arithmetic), recency max as a pass-1 driver literal — no unpartitioned window (r5)"),
    ("incremental_cms_users", "incremental CMS: depth x width counter matrix read from maintained state (scan of the tiny checkpoint, no raw rescan)"),
    ("sparse_tf_cosine_pairs", "inverted-index sparse cosine: bucket-grouped posting lists (ONE shuffle), df-cap size filter, narrow pair expansion, (a,b) dot agg"),
    ("token_budget_selection", "token-budget selection: driver-side walk of the <=10^4+1 bounded bucket table + boundary-bucket-only per-doc refinement — no window at all (r5)"),
    ("benford_digit_audit", "Benford audit: narrow decimal-routed digit extraction, 9-wide agg, full-frame window total"),
    ("minhash_jaccard_calibration", "MinHash calibration: 4 md5 digests -> 16 u32 minima as narrow array ops, oracle-budget all-pairs sample, estimator + exact Jaccard side by side"),
    ("debounced_events", "debounce: ONE keyed lag window on the (user,type) debounce key, integer-seconds filter"),
    ("oov_rate_by_source", "OOV coverage: one explode feeds instance+df partials (vocab-bounded agg), broadcast 1-row doc total, token-keyed vocab join"),
    ("pii_redacted_docs", "PII scrub: three regex counts + chained redactions as pure narrow string expressions — zero shuffles"),
    ("pseudonymized_events", "pseudonymization: salted sha2 re-key as a narrow projection — no lookup table, no shuffle"),
    ("minhash_neardup_candidates", "MinHash-LSH candidates on the derandomized md5 shingle sketch: 4 digests -> 16 minima narrow, ONE band-key shuffle, no self-join"),
    # r6 additions
    ("bpe_learned_merges", "iterative BPE training: O(vocab) count-argmax-merge rounds run eagerly in the builder (bounded 1-row collects), the returned merge table is a tiny local relation"),
    ("image_neardup_pairs_exact", "oracle-exact image near-dup: two narrow mapInPandas passes (md5 synth, codec-roundtrip integer aHash), ONE band-key shuffle via the struct-id bucket grouping, exact hamming on the pair struct — no join-back"),
    ("audio_fingerprint_exact", "oracle-exact audio features: md5 PCM synth + WAV-roundtrip integer features as two chained narrow mapInPandas passes — zero shuffles"),
    ("pca_power_component", "power-iteration PCA: gram_moments partials (one matmul per Arrow batch, dim^2-bounded exchange) feed a bounded driver iteration; output is a dim-sized local relation rounded in-engine"),
    ("linreg_token_diversity", "exact linear regression: ONE map-side-partial aggregate of 15 integer moments (single-row shuffle), mirrored Gauss-Jordan on the driver, 4-row local output"),
    ("logreg_quality_gd", "logistic regression by mirrored GD: per-iteration map-side-partial aggregate over the cached feature projection (4-double shuffle row per step)"),
    # r9 addition
    ("semantic_contaminated_evals", "semantic decontamination: narrow sign-LSH banding + capped band window, ONE bipartite band-key equi-join (eval x train cross product never materialized), exact cosine verify, per-eval agg"),
    # r10 addition
    ("semantic_contaminated_evals_strict", "production-threshold decontamination: 80 data-independent signs shipped as literal arrays (no per-row md5), sharp 10-bit bands, same single bipartite band join + exact verify"),
    # r11 additions
    ("replay_quarantine_view", "exactly-once quarantine reader: both delivery windows (per-delivery count, per-group best) share ONE (raw, epoch_tag) exchange; null-tag rows union in untouched"),
    ("decon_index_report", "persisted decon index lifecycle: the probe plan is all broadcast hash joins against parquet scans of the just-built index — the index side is never shuffled (the staged build/extend jobs run before this final probe plan)"),
    ("ivf_index_topk", "persisted IVF index lifecycle: the search plan is a partition-pruned scan of ONLY the probed clusters' directories + TakeOrdered — no join, no full-index read (the staged train/build/extend jobs run before this final search plan)"),
    ("minhash_index_report", "persisted MinHash index lifecycle (md5 oracle tier): the probe plan is all broadcast hash joins against parquet scans of the just-built index — the index side is never shuffled (the staged build/extend jobs run before this final probe plan)"),
]


def normalize_plan(plan: str) -> str:
    """Make regenerated plans DIFF-STABLE (r8 verdict #7): expression
    ids are assigned session-globally, so adding one unrelated query
    shifts every later plan's ``#123`` ids and a regen produces
    thousands of churn lines that drown real plan-shape changes.
    Renumber expr ids PER PLAN in order of first appearance (column
    distinctness within the plan is preserved), normalize the equally
    session-global ``plan_id``/subquery ids, and collapse run-varying
    temp paths. Regen on unchanged code is then a zero-line diff."""
    ids: dict[str, str] = {}

    def sub_id(m: re.Match) -> str:
        k = m.group(0)
        if k not in ids:
            ids[k] = f"#{len(ids) + 1}"
        return ids[k]

    plan = re.sub(r"#\d+", sub_id, plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=X", plan)
    # subquery ids: renumber per plan in first-appearance order (the
    # same scheme as the expr-id map) instead of flattening every one
    # to a single literal — a plan change that swaps which operator
    # references which subquery must regenerate as a visible diff
    # (r9 ADVICE). The ``subquery#N`` form already rides the expr-id
    # map above (subquery ids share Spark's ExprId counter), so only
    # the bare ``subquery 40`` / ``subquery40`` spellings need their
    # own map here.
    subs: dict[str, str] = {}

    def sub_subq(m: re.Match) -> str:
        k = m.group(2)
        if k not in subs:
            subs[k] = str(len(subs) + 1)
        return f"subquery{m.group(1)}{subs[k]}"

    plan = re.sub(r"subquery(\s?)(\d+)", sub_subq, plan)
    # temp dirs (checkpoints, staged artifacts) vary per run
    plan = re.sub(r"(file:)?/tmp/[^\s,\])]+", "/tmp/...", plan)
    # localCheckpoint scan leaves: RDD ids are session-global counters,
    # and the recorded Python callsite differs by invocation style
    plan = re.sub(r"MapPartitionsRDD\[\d+\]", "MapPartitionsRDD[N]", plan)
    plan = re.sub(
        r"at (<unknown>|NativeMethodAccessorImpl\.java):0", "at <callsite>:0", plan
    )
    # partition-offset numbering's offset map: the range-partition
    # sample is seeded from the session-global RDD id, so the literal
    # offsets move with whatever ran earlier in the session. Only this
    # literal is masked; every other map literal is plan content.
    plan = re.sub(
        r"(element_at\(map\(keys: \[[^\]]*\], values: \[)[\d, -]*"
        r"(\]\), cast\(shiftright\(monotonically_increasing_id\(\), 33\))",
        r"\1<offsets>\2",
        plan,
    )
    return plan


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("dump_plans")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    out = [
        "# EXPLAIN — physical plans of representative queries (sf0.1)",
        "",
        "Generated by `python tools/dump_plans.py`; regenerate after plan-affecting",
        "changes. `tests/test_plans.py` asserts these properties mechanically;",
        "this file is the human-readable evidence. Expr ids are renumbered per",
        "plan (first-appearance order), temp paths collapsed and the values of",
        "the partition-offset map masked (its range-partition sample is seeded",
        "from the session-global RDD id), so a regen on unchanged code is a",
        "zero-line diff. One known exception is left visible: with COUNT(DISTINCT)",
        "over two columns (`type_hour_chi2`), the order of the `Expand` groups and",
        "of the keys after it follows the hashes of session-global expression",
        "ids, so it can flip with whatever the session planned before; such a",
        "flip is not a plan change.",
        "",
    ]
    for name, why in SHOWCASE:
        df = REGISTRY[name].builder(spark, sf_dir)
        plan = normalize_plan(df._jdf.queryExecution().explainString(mode))
        out += [f"## {name}", "", f"*Why this plan matters: {why}*", "",
                "```", plan.rstrip(), "```", ""]
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "EXPLAIN.md")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(out))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
