"""Scale smoke: drive the dedup / similarity SCALE paths on a corpus
~N× larger than sf0.1 (default 40× → 200k docs, 20k embeddings),
synthesized by replicating the testdata with deterministic
perturbations (no files written; testdata stays read-only).

This is the "would it survive 100×?" check the small-SF correctness
suite can't give: the LSH candidate pipeline, SimHash bucketing, and
IVF ANN must stay near-linear — if any of them quadratically explodes
or OOMs at 40×, the 100 TB story is fiction. Usage:

    python tools/scale_smoke.py [replication_factor]

Prints one JSON line with per-path wall seconds and output sizes.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from meshtastic_airsensor_database_spark.io_utils import fan_out, load
from meshtastic_airsensor_database_spark.operators.dedup import (
    minhash_lsh_candidates,
    simhash_buckets,
)
from meshtastic_airsensor_database_spark.operators.similarity import ivf_topk
from meshtastic_airsensor_database_spark.session import get_spark


TOKENS_PER_DOC = 50
VOCAB = 50_000


def replicate_docs(docs, factor: int):
    """A corpus factor× the base row count: each copy's text is 50
    tokens drawn from a 50k vocabulary by hashing (copy_id, position) —
    token frequencies are corpus-realistic but 3-gram shingles are
    effectively unique per doc — plus an exact duplicate of every 100th
    copy. Near-dup pairs are exactly the planted 1%: the LSH workload
    (buckets, candidates, verifies) scales LINEARLY with factor, so a
    super-linear wall-time IS an engine regression.

    Two rejected designs (both measured): suffix-perturbed copies of
    the base text leave all ``factor`` copies mutual near-dups
    (C(factor,2) pairs per doc — quadratic); unique-prefix + shared
    base text parks same-doc copies at Jaccard ~0.5, LSH's twilight
    zone, where candidate count is still quasi-quadratic in factor."""
    reps = F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("rep")
    new_id = F.col("doc_id") * factor + F.col("rep")
    text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(TOKENS_PER_DOC - 1)),
            lambda i: F.concat(
                F.lit("t"), F.pmod(F.xxhash64(new_id, i), F.lit(VOCAB)).cast("string")
            ),
        ),
    )
    # NOTE (lateral-alias shadowing): `text` references new_id, whose
    # col("doc_id") resolves against the `new_id AS doc_id` alias in
    # this SAME select list (Spark lateral column aliases), so the
    # actual token seed is (orig*f+rep)*f+rep — still unique per copy,
    # which is all the workload needs; the mhindex plant below mirrors
    # the effective seed (doc_id*f*f at rep=0), not the naive one.
    copies = docs.select("doc_id", reps).select(
        new_id.alias("doc_id"), text.alias("text")
    )
    planted = copies.filter(F.col("doc_id") % 100 == 0).select(
        (-F.col("doc_id") - 1).alias("doc_id"), "text"
    )
    return copies.unionByName(planted)


def replicate_embeddings(emb, factor: int):
    """factor copies per vector, each shifted by a tiny per-replica
    delta on the first component (distinct points, same distribution).

    Ids INTERLEAVE (rep * base_count + orig), not block (orig * factor
    + rep): the centroid stand-in in assign_ivf_clusters takes the
    first-N ids as centroids, and block re-iding would make all N
    centroids near-copies of the same few base vectors — degenerate
    clusters that blow past the MAX_BUCKET guard and void the smoke
    (measured: 0 candidate pairs because every cluster was dropped).
    Interleaved, the first-N ids are N distinct base directions at any
    factor.

    Known artifact: all ``factor`` copies of one base vector are
    mutually near-dup, so the TRUE semantic-dup pair count grows as
    C(factor, 2) per base — quadratic in factor BY CONSTRUCTION
    (measured 1.55M pairs at 40x, 6.25M at 80x). Judge the
    semantic-dedup path by its wall time (which stays flat: the
    cluster-pruned candidate generation touches each pair once), not
    by output rows."""
    base_count = emb.count()
    reps = F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("rep")
    delta = (F.col("rep").cast("double") / F.lit(1e4)).cast("float")
    return (
        emb.select("vec_id", "embedding", reps)
        .select(
            (F.col("rep") * base_count + F.col("vec_id")).alias("vec_id"),
            F.concat(
                F.array(F.element_at("embedding", 1) + delta),
                F.slice("embedding", 2, F.size("embedding") - 1),
            ).alias("embedding"),
        )
    )


def timed(spark, label, df, out: dict):
    spark._jvm.System.gc()  # keep one section's GC debt out of the next
    t0 = time.time()
    n = df.count()
    out[label] = {"sec": round(time.time() - t0, 2), "rows": n}


def ingest_throughput(spark, tmp_root: str, n_packets: int) -> dict:
    """Synthesize a landing batch of n_packets JSON packets (all four
    shapes) and push it through the full foreachBatch route (parse ->
    4-way split -> dim enrich -> 3 partitioned parquet sinks + dim
    upsert); returns wall seconds and packets/sec. This is the
    streaming engine's per-micro-batch cost at depth, not a file-source
    micro-benchmark."""
    import json as _json
    import shutil

    from meshtastic_airsensor_database_spark.sources.landing import (
        packet_batch_source,
        write_packet_fixture,
    )
    from meshtastic_airsensor_database_spark.streaming.ingest import (
        IngestPaths,
        process_packet_batch,
    )

    landing = os.path.join(tmp_root, "landing")
    out = os.path.join(tmp_root, "out")
    shutil.rmtree(tmp_root, ignore_errors=True)

    base_ts = 1_700_000_000
    lines = []
    for i in range(n_packets):
        node = 3_127_201_152 + (i % 500)
        ts = base_ts + i
        kind = i % 4
        if kind == 0:  # v0 env telemetry
            pkt = {"from": node, "id": i, "type": "telemetry", "timestamp": ts,
                   "payload": {"temperature": 20.0 + i % 10, "relative_humidity": 40.0,
                               "barometric_pressure": 1000.0, "gas_resistance": 50000.0,
                               "iaq": 25}}
        elif kind == 1:  # battery telemetry
            pkt = {"from": node, "id": i, "type": "telemetry", "timestamp": ts,
                   "payload": {"battery_level": 90.0, "voltage": 3.9}}
        elif kind == 2:  # v1 text CSV payload
            pkt = {"from": node, "id": i, "type": "text", "timestamp": ts,
                   "payload": {"text": "21.9,45.2,1013.1,48000,1.2,2.5,3.1,3.95,120.5"}}
        else:  # nodeinfo
            pkt = {"from": node, "id": i, "type": "nodeinfo", "timestamp": ts,
                   "payload": {"id": f"!{node:x}", "longname": f"Farm{i % 500}"}}
        lines.append(_json.dumps(pkt))
    # several files so the scan parallelizes like a real landing dir
    per_file = max(1, n_packets // 32)
    for f in range(0, n_packets, per_file):
        write_packet_fixture(landing, lines[f : f + per_file], f"b{f:08d}.jsonl")

    paths = IngestPaths(landing_dir=landing, out_dir=out)
    spark._jvm.System.gc()
    t0 = time.time()
    # with_counts=False: time the STREAMING hot path (the foreachBatch
    # wrapper runs without observability counts); routed rows are
    # counted afterwards from the written parquet, outside the clock.
    process_packet_batch(
        packet_batch_source(spark, landing), paths, with_counts=False
    )
    wall = time.time() - t0
    routed = {
        t: spark.read.parquet(paths.table(t)).count()
        for t in ("airwise_data", "battery_data", "airwise_datav1")
    }
    shutil.rmtree(tmp_root, ignore_errors=True)
    return {"sec": round(wall, 2), "packets": n_packets,
            "packets_per_sec": round(n_packets / wall),
            "rows_routed": routed}


def rollup_maintenance(spark, sf_dir: str, factor: int, tmp_root: str) -> dict:
    """Replicate events factor x (shifted by one hour per replica so the
    hour-key space grows with volume), then fold them into the
    materialized rollup as 4 out-of-order micro-batches, then compact
    the deltas. Reports wall seconds per batch — a fold is a blind
    append, so its cost must track batch size, not accumulated table
    size — and of the compaction, which must serve the same rows."""
    import shutil

    from meshtastic_airsensor_database_spark.streaming.rollup import (
        compact_rollup,
        maintain_rollup,
        read_rollup,
    )

    shutil.rmtree(tmp_root, ignore_errors=True)
    path = os.path.join(tmp_root, "hourly")
    ev = load(spark, sf_dir, "events")
    reps = F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("rep")
    big = ev.select("event_id", "ts", "user_id", "event_type", "value", reps).select(
        (F.col("event_id") * factor + F.col("rep")).alias("event_id"),
        (F.col("ts") + F.make_interval(hours=F.col("rep"))).alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    secs = []
    for i in range(4):
        spark._jvm.System.gc()
        t0 = time.time()
        maintain_rollup(
            big.filter(F.pmod("event_id", F.lit(4)) == i),
            path,
            keys=["user_id", "event_type"],
        )
        secs.append(round(time.time() - t0, 2))
    keys = ["user_id", "event_type"]
    n_rows = read_rollup(spark, path, keys).count()
    t0 = time.time()
    rep = compact_rollup(spark, path)
    compact_sec = round(time.time() - t0, 2)
    assert read_rollup(spark, path, keys).count() == n_rows, "compaction changed rows"
    return {
        "batch_sec": secs,
        "n_events": big.count(),
        "compact_sec": compact_sec,
        "deltas_per_date": [rep.max_deltas_before, rep.max_deltas_after],
    }


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 40
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("scale_smoke")

    # Materialize the synthetic corpus ONCE before timing: a real corpus
    # is stored parquet, so the smoke must measure the OPERATORS, not
    # re-evaluations of the replication expressions (explode-of-derived-
    # array pipelines re-inline the generator into every consumer —
    # measured 4-8x inflation on the prefix-join path).
    # fan_out BEFORE checkpointing: the replicated corpus derives
    # narrowly from a 1-2 file scan, so without the repartition every
    # downstream narrow stage (shingling, hashing) runs on 1-2 of the
    # 32 cores — measured 88s vs ~6s for the 200k-doc shingle pass.
    docs = fan_out(replicate_docs(load(spark, sf_dir, "documents"), factor)).localCheckpoint(
        eager=True
    )
    emb = fan_out(replicate_embeddings(load(spark, sf_dir, "embeddings"), factor)).localCheckpoint(
        eager=True
    )
    n_docs, n_emb = docs.count(), emb.count()

    out: dict = {"factor": factor, "n_docs": n_docs, "n_embeddings": n_emb}
    timed(spark, "minhash_lsh_candidates",
          minhash_lsh_candidates(docs, "doc_id", "text"), out)
    timed(spark, "simhash_buckets", simhash_buckets(docs, "doc_id", "text"), out)
    # Prefix-filtered exact set-similarity join: candidates must track
    # the planted 1% duplicate pairs (df-ordered prefixes keep common
    # tokens out of the candidate generation). A quasi-quadratic
    # candidate count here means the df-ordering or the bucket cap
    # regressed.
    from meshtastic_airsensor_database_spark.functions.text import word_shingles
    from meshtastic_airsensor_database_spark.operators.setjoin import (
        prefix_filtered_jaccard_pairs,
    )

    def _jac(a, b):
        inter = F.size(F.array_intersect(a, b))
        return inter.cast("double") / (F.size(a) + F.size(b) - inter)

    sh = docs.select("doc_id", word_shingles(F.col("text"), 3).alias("sh"))
    timed(spark, "prefix_jaccard_pairs",
          prefix_filtered_jaccard_pairs(sh, "doc_id", "sh", 0.8, _jac), out)
    # Inverted-index sparse cosine at factor-x: the bucket-keyed dot
    # accumulation must stay linear — super-linear time means the
    # df-cap stopped bounding per-bucket fan-out (replicated docs share
    # every shingle, so the cap is doing real work here).
    from meshtastic_airsensor_database_spark.operators.setjoin import (
        hashed_tf_cosine_pairs,
    )

    # dim scales with the corpus (standard hashing-trick sizing: keep
    # bucket occupancy ~constant) — at FIXED dim the spurious co-bucket
    # pair count grows as instances^2/dim, which is a property of the
    # sketch, not the join.
    timed(spark, "sparse_tf_cosine",
          hashed_tf_cosine_pairs(sh, "doc_id", F.col("sh"),
                                 dim=32768 * factor, threshold=0.5,
                                 df_cap=50), out)
    timed(spark, "ivf_topk",
          ivf_topk(emb, query_vec_id=0, k=10, n_centroids=32, n_probe=4), out)
    # SemDeDup: centroid count scales WITH the corpus (the documented
    # knob), holding cluster size — and therefore per-cluster candidate
    # fan-out — constant as factor grows: total candidate pairs stay
    # linear in corpus size.
    from meshtastic_airsensor_database_spark.operators.similarity import semantic_dedup_pairs

    timed(spark, "semantic_dedup_pairs",
          semantic_dedup_pairs(emb, threshold=0.9,
                               n_centroids=max(8, 4 * factor)), out)
    # r10: production-threshold semantic decontamination at factor-x.
    # The builder is sf_dir-shaped (it peeks the dim to precompute the
    # literal sign matrix), so the replicated corpus is staged as an
    # embeddings table. Same KNOWN ARTIFACT as replicate_embeddings'
    # docstring: every replica family is mutually near-dup, so true
    # contamination pairs grow quadratically in factor BY CONSTRUCTION
    # — judge the path by wall per CANDIDATE (banding + verify touch
    # each candidate exactly once), not by wall alone.
    import shutil
    import tempfile

    from meshtastic_airsensor_database_spark.plans.vectorq import (
        semantic_contaminated_evals_strict,
    )

    stage = tempfile.mkdtemp(prefix="strict_decon_")
    try:
        emb.write.parquet(os.path.join(stage, "embeddings.parquet"))
        spark._jvm.System.gc()
        t0 = time.time()
        rep = semantic_contaminated_evals_strict(spark, stage).select(
            F.count(F.lit(1)).alias("evals"),
            F.sum("n_candidates").alias("cands"),
            F.sum("n_contaminating").alias("contam"),
        ).collect()[0]
        out["semantic_decon_strict"] = {
            "sec": round(time.time() - t0, 2),
            "rows": int(rep["evals"]),
            "candidates": int(rep["cands"] or 0),
            "contaminating": int(rep["contam"] or 0),
        }
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    # r10: persisted decon index — build over the factor-x corpus (the
    # index grows with factor), then probe a FIXED 200-vector eval
    # shard (the base table's first 200, re-idd clear of the corpus).
    # Each probe vector is near-parallel to its `factor` replicas in
    # the index, so candidate pairs grow LINEARLY in factor BY
    # CONSTRUCTION — judge the probe by wall per candidate (banding +
    # exact-cosine verify touch each once; the broadcast-probe contract
    # keeps everything else eval-sized + one scan of the index).
    from meshtastic_airsensor_database_spark.operators.decon_index import (
        build_decon_index,
        probe_decon_index,
    )

    idx = tempfile.mkdtemp(prefix="decon_idx_")
    try:
        spark._jvm.System.gc()
        t0 = time.time()
        build_decon_index(emb, idx)
        build_sec = round(time.time() - t0, 2)
        fixed_eval = (
            load(spark, sf_dir, "embeddings")
            .orderBy("vec_id")
            .limit(200)
            .select((F.col("vec_id") + F.lit(10**9)).alias("vec_id"), "embedding")
            .localCheckpoint(eager=True)
        )
        spark._jvm.System.gc()
        t0 = time.time()
        n_pairs = probe_decon_index(fixed_eval, idx).count()
        out["decon_index"] = {
            "build_sec": build_sec,
            "probe_sec": round(time.time() - t0, 2),
            "probe_pairs": n_pairs,
        }
    finally:
        shutil.rmtree(idx, ignore_errors=True)
    # r4 late additions over the factor-x corpus: corpus novelty (two
    # hash aggs over hashed grams), source-overlap (one collect_set
    # shuffle + narrow pair expansion bounded by the source domain),
    # and the CMS counter build (output bounded at depth x width
    # regardless of corpus). Super-linear time here means a gram-keyed
    # agg lost its map-side partial or the pair expansion regressed to
    # a join.
    from meshtastic_airsensor_database_spark.operators.sketch import cms_counters
    from meshtastic_airsensor_database_spark.operators.textops import (
        bounded_pair_and_member_counts,
        novelty_counts,
        source_shingle_sets,
    )

    # the replicated corpus carries no source column; derive a bounded
    # 20-value domain from the id (mirrors the real table's cardinality)
    src = F.concat(
        F.lit("src"), F.pmod(F.col("doc_id"), F.lit(20)).cast("string")
    ).alias("source")
    docs_src = docs.select("doc_id", src, "text")
    timed(spark, "doc_novelty", novelty_counts(docs_src), out)
    # Exact-substring dedup TRANSFORM: gram-DF agg + keeper join on
    # 8-byte hashes, removed positions folded to one array per doc,
    # per-row rebuild. Super-linear time means the gram agg lost its
    # partial or the rebuild join started carrying token arrays.
    from meshtastic_airsensor_database_spark.operators.lmquality import exact_span_dedup

    # aggregate over the rebuilt arrays, not count(): a bare count lets
    # Catalyst prune the removed-position pipeline and the rebuild
    # lambda out of the plan entirely (measured 0.1s vs the real cost)
    timed(spark, "exact_span_dedup",
          exact_span_dedup(docs_src).agg(
              F.sum(F.size("kept_tokens")), F.sum("n_removed")), out)
    # the pair/member counts materialize eagerly, so the call itself is
    # timed; counting the materialized pairs afterwards is free
    spark._jvm.System.gc()
    t0 = time.time()
    pairs, _ = bounded_pair_and_member_counts(source_shingle_sets(docs_src))
    out["source_overlap"] = {"sec": round(time.time() - t0, 2), "rows": pairs.count()}
    timed(spark, "cms_counters",
          cms_counters(docs_src.select("source"), "source"), out)
    # Stats/quality family over a factor-x events corpus: the KS CDF
    # walk, the TWA window, and the one-pass row-rule report must all
    # track corpus size linearly (each is one keyed exchange or a
    # single aggregation pass — a super-linear time here means a
    # window lost its partitioning or a rule added a pass).
    from pyspark.sql import Window

    from meshtastic_airsensor_database_spark.operators.quality import row_checks

    ev = load(spark, sf_dir, "events")
    reps_e = F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("rep")
    big_ev = fan_out(
        ev.select("event_id", "ts", "user_id", "event_type", "value", reps_e).select(
            (F.col("event_id") * factor + F.col("rep")).alias("event_id"),
            (F.col("ts") + F.make_interval(hours=F.col("rep"))).alias("ts"),
            # spread users with the replicas so per-key series stay
            # bounded (matching real growth: more users, not 40x-longer
            # histories per user)
            (F.col("user_id") * factor + F.col("rep")).alias("user_id"),
            "event_type",
            "value",
        )
    ).localCheckpoint(eager=True)
    out["n_events_stats"] = big_ev.count()
    w_ks = Window.partitionBy("event_type").orderBy("bin")
    g = big_ev.groupBy(
        "event_type", F.floor(F.col("value")).cast("long").alias("bin")
    ).agg(F.count(F.lit(1)).alias("na"))
    timed(spark, "ks_cdf_walk",
          g.select("event_type", F.sum("na").over(w_ks).alias("ca")), out)
    w_twa = Window.partitionBy("user_id").orderBy("ts", "event_id")
    spans = big_ev.select(
        "user_id", "value",
        (F.unix_micros(F.lead("ts").over(w_twa)) - F.unix_micros("ts"))
        .cast("double").alias("dt"),
    ).where(F.col("dt").isNotNull())
    timed(spark, "time_weighted_avg",
          spans.groupBy("user_id").agg(
              (F.sum(F.col("value") * F.col("dt")) / F.sum("dt")).alias("twa")
          ), out)
    timed(spark, "row_rule_report",
          row_checks(big_ev, {
              "value_nonneg": F.col("value") >= 0,
              "type_known": F.col("event_type").isNotNull(),
              "ts_in_range": F.col("ts").isNotNull(),
          }), out)
    # Session-path mining at factor-x: sessionize + in-session rank
    # share ONE user-keyed sort; per-session state is rn-capped at 3
    # rows before the collect. Super-linear time means the two windows
    # stopped sharing the exchange or the collect lost its cap.
    from meshtastic_airsensor_database_spark.operators.align import sessionize

    sess = sessionize(
        big_ev.select("user_id", "ts", "event_id", "event_type"),
        "user_id", "ts", 1800,
    )
    w_sp = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    paths = (
        sess.withColumn("rn", F.row_number().over(w_sp))
        .filter(F.col("rn") <= 3)
        .groupBy("user_id", "session_id")
        .agg(F.concat_ws(">", F.transform(
            F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
            lambda x: x["event_type"])).alias("path"))
        .groupBy("path").agg(F.count(F.lit(1)).alias("n"))
    )
    timed(spark, "session_paths", paths, out)

    # r7: the two oracle-exact multimodal pipelines (codec ROUNDTRIPS on
    # the hot path — md5 synth -> PPM/WAV encode -> decode -> integer
    # hash/features). Media ids are a factor-x synthetic range; the
    # image BASE count scales with the corpus (constant ~members per
    # base), so the planted near-dup pairs — and therefore the banding
    # buckets and the pair join — grow LINEARLY with factor and stay
    # under the MAX_BUCKET cap at any factor. Super-linear wall here
    # means a codec pass stopped being narrow or the band join
    # regressed; the pair count doubling with factor is the plant
    # working, not a regression.
    from meshtastic_airsensor_database_spark.operators.multimodal import (
        audio_features_int,
        image_ahash_int,
        image_neardup_pairs,
    )
    from meshtastic_airsensor_database_spark.plans.vectorq import (
        IMG_X_BASES,
        IMG_X_HAM,
        md5_audio_media_from_ids,
        md5_image_media_from_ids,
    )

    n_media = n_docs  # same scale as the replicated doc corpus
    media_ids = fan_out(
        spark.range(n_media).select(F.col("id").alias("doc_id"))
    ).localCheckpoint(eager=True)
    timed(
        spark,
        "image_neardup_exact",
        image_neardup_pairs(
            md5_image_media_from_ids(media_ids, bases=IMG_X_BASES * factor),
            max_hamming=IMG_X_HAM,
            hasher=image_ahash_int,
        ),
        out,
    )
    # aggregate over the features, not count(): Catalyst cannot prune
    # into the Arrow op, but the agg also pins the decoded values
    timed(
        spark,
        "audio_fingerprint_exact",
        audio_features_int(md5_audio_media_from_ids(media_ids)).agg(
            F.sum("energy"), F.sum("zero_crossings"), F.count(F.lit(1))
        ),
        out,
    )
    # Partition-offset global ordered stats (r5 — replaced the
    # unpartitioned windows in rfm/pareto/token-budget): exact NTILE
    # and rank+running-sum over a factor-x per-user frame. Cost must
    # track the frame linearly; the structure guarantees no
    # single-partition stage (one range shuffle + narrow numbering /
    # zero-shuffle Arrow prefix pass). The eager passes run inside the
    # builder, so the clock wraps the whole call.
    from meshtastic_airsensor_database_spark.operators.ordered import (
        global_ntile,
        global_rank_cumsum,
        global_row_number,
    )

    per_user = big_ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    spark._jvm.System.gc()
    t0 = time.time()
    tiled, _ = global_ntile(
        per_user, [F.col("n_events").asc(), F.col("user_id").asc()], 4, "q"
    )
    n_tiled = tiled.count()
    out["global_ntile"] = {"sec": round(time.time() - t0, 2), "rows": n_tiled}
    spark._jvm.System.gc()
    t0 = time.time()
    ranked, total_rc = global_rank_cumsum(
        per_user, [F.col("n_events").desc(), F.col("user_id").asc()], "n_events"
    )
    # Bijectivity at smoke scale — the r5 ADVICE regression class (a
    # re-executed range shuffle re-samples its boundaries, leaving
    # duplicate/missing ranks that NO small-SF oracle can see): every
    # rank 1..n exactly once, and the final running sum equals the
    # grand total. The agg IS the action, so this also times the op.
    rs = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("rank").alias("nd"),
        F.min("rank").alias("mn"),
        F.max("rank").alias("mx"),
        F.max("cum").alias("cum_last"),
    ).collect()[0]
    assert rs["n"] == rs["nd"] == rs["mx"] and rs["mn"] == 1, rs
    assert rs["cum_last"] == total_rc, (rs["cum_last"], total_rc)
    out["global_rank_cumsum"] = {"sec": round(time.time() - t0, 2), "rows": rs["n"]}
    # global_row_number over the EVENT-level frame (millions of rows,
    # ~100x the per-user frame): dense 0-based/1-based numbering at
    # corpus scale is the reference's QuerryGenerator.py:11-16 semantics.
    spark._jvm.System.gc()
    t0 = time.time()
    numbered, total_rn, _ = global_row_number(
        big_ev, [F.col("ts").asc(), F.col("event_id").asc()], "rn"
    )
    ns = numbered.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("rn").alias("nd"),
        F.min("rn").alias("mn"),
        F.max("rn").alias("mx"),
    ).collect()[0]
    assert ns["n"] == total_rn == ns["nd"] == ns["mx"] and ns["mn"] == 1, ns
    out["global_row_number"] = {"sec": round(time.time() - t0, 2), "rows": ns["n"]}
    # Distributed-covariance Gram partials over the factor-x embedding
    # corpus: one numpy matmul per Arrow batch, shuffle bounded at dim^2
    # rows regardless of corpus size. Super-linear time means the
    # matmul degenerated to per-row work or the partial agg vanished.
    from meshtastic_airsensor_database_spark.operators.similarity import gram_moments

    timed(spark, "gram_moments", gram_moments(emb), out)
    # Graph family at factor-x (r3 verdict item 6 — the O(m^1.5)
    # triangle wedge bound and O(log log n) CC round count were
    # asserted in docstrings but never measured at scale). The
    # co-presence edge build itself (distinct -> hub-bucket gate ->
    # bucket self equi-join) is timed too, then its edge list is
    # checkpointed so triangles and CC measure the graph operators,
    # not a re-run of the edge construction. Users spread with the
    # replicas, so per-hour bucket occupancy — and with it edge count
    # — grows linearly with factor.
    from meshtastic_airsensor_database_spark.operators.dedup import (
        connected_components,
    )
    from meshtastic_airsensor_database_spark.operators.graph import (
        cooccurrence_edges,
        triangle_counts,
    )

    # Edge BUILD cost over the factor-x event table (distinct ->
    # hub-bucket gate -> bucket self equi-join):
    timed(spark, "cooccurrence_edges",
          cooccurrence_edges(
              big_ev, "user_id", F.floor(F.unix_timestamp("ts") / 3600),
              min_shared=2,
          ), out)
    # Triangles + CC need a graph whose SIZE scales with factor (the
    # user-spread event replication keeps the co-presence graph tiny),
    # so synthesize one: ~5 edges/node from hash-derived endpoints,
    # plus a planted HUB holding ~1% of all edges — the star that makes
    # naive wedge enumeration quadratic and is exactly what the
    # degree-ordered orientation's O(m^1.5) bound must absorb.
    n_nodes = factor * 10_000
    n_rand = factor * 50_000
    rand_e = spark.range(n_rand).select(
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n_nodes)).alias("src"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(n_nodes)).alias("dst"),
    )
    hub_e = spark.range(n_rand // 100).select(
        F.lit(0).cast("long").alias("src"),
        F.pmod(F.xxhash64("id", F.lit(3)), F.lit(n_nodes)).alias("dst"),
    )
    graph = fan_out(
        rand_e.unionByName(hub_e).where(F.col("src") != F.col("dst"))
    ).localCheckpoint(eager=True)
    out["n_graph_edges"] = graph.count()
    timed(spark, "triangle_counts", triangle_counts(graph), out)
    # CC runs its star-contraction rounds EAGERLY inside the call
    # (per-round localCheckpoint + convergence checksums), so the
    # clock must wrap the call itself, not just the final count.
    spark._jvm.System.gc()
    t0 = time.time()
    cc = connected_components(graph.select(F.col("src").alias("id_a"),
                                           F.col("dst").alias("id_b")))
    out["connected_components"] = {"sec": round(time.time() - t0, 2),
                                   "rows": cc.count()}
    out["rollup_maintenance"] = rollup_maintenance(
        spark, sf_dir, factor, "/tmp/spark_graft_scale_rollup"
    )
    out["ingest"] = ingest_throughput(
        spark, "/tmp/spark_graft_scale_smoke", n_packets=factor * 5000
    )
    # Multimodal family at factor-x (r4 verdict item 8 — the decode/
    # feature/resize/phash pipeline had correctness tests but no scale
    # numbers). Corpus: 250*factor unique 16x16 PPM images (pixels
    # hash-derived per id, so aHash collisions are only the planted 1%
    # exact duplicates), synthesized in an Arrow pass and checkpointed
    # so the timings measure the OPERATORS. Every op is a narrow
    # mapInPandas — super-linear time means batching regressed to
    # per-row work; the near-dup pair count must track the planted 1%.
    import numpy as np
    import pandas as pd

    from meshtastic_airsensor_database_spark.functions.codecs import encode_ppm
    from meshtastic_airsensor_database_spark.operators.multimodal import (
        extract_features,
        frame_sample,
        image_neardup_pairs,
        image_phash,
        resize_media,
        to_media_table,
    )

    n_media = 250 * factor

    def _gen_media(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["id"]:
                base = int(mid) % n_media if int(mid) >= n_media else int(mid)
                rng = np.random.default_rng(base)  # seeded per image: dup pairs exact
                px = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
                rows.append({"id": int(mid), "payload": encode_ppm(px)})
            yield pd.DataFrame(rows, columns=["id", "payload"])

    # ids >= n_media are the planted duplicates of id % n_media
    ids = spark.range(n_media).unionByName(
        spark.range(n_media, n_media + n_media // 100)
    )
    media = fan_out(
        to_media_table(
            ids.mapInPandas(_gen_media, "id long, payload binary"),
            "id", "payload", "image",
        )
    ).localCheckpoint(eager=True)
    out["n_media"] = media.count()
    timed(spark, "media_extract_features", extract_features(media), out)
    timed(spark, "media_resize", resize_media(media, 8, 8), out)
    timed(spark, "media_phash", image_phash(media), out)
    timed(spark, "media_neardup_pairs", image_neardup_pairs(media), out)
    timed(spark, "media_frame_sample", frame_sample(media), out)
    # Persisted IVF index lifecycle at factor-x (r4 verdict item 8):
    # build = train + one cluster-keyed shuffle write; extend = assign
    # the base-size batch against FROZEN centroids + append (cost must
    # track the BATCH, not the accumulated index); search = bounded
    # centroid collect + partition-pruned probe scan (cost tracks the
    # probed clusters, not the index).
    import shutil

    from meshtastic_airsensor_database_spark.operators.vindex import (
        build_ivf_index,
        extend_ivf_index,
        search_ivf_index,
    )

    idx_path = "/tmp/spark_graft_scale_vindex"
    shutil.rmtree(idx_path, ignore_errors=True)
    spark._jvm.System.gc()
    t0 = time.time()
    build_ivf_index(emb, idx_path, n_centroids=32)
    out["vindex_build"] = {"sec": round(time.time() - t0, 2), "rows": n_emb}
    new_batch = load(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") + factor * 1_000_000).alias("vec_id"), "embedding"
    )
    spark._jvm.System.gc()
    t0 = time.time()
    extend_ivf_index(new_batch, idx_path)
    out["vindex_extend"] = {"sec": round(time.time() - t0, 2),
                            "rows": new_batch.count()}
    qv = [float(x) for x in
          load(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0)
          .select("embedding").collect()[0]["embedding"]]
    spark._jvm.System.gc()
    t0 = time.time()
    hits = search_ivf_index(spark, idx_path, qv, k=10, n_probe=4).count()
    out["vindex_search"] = {"sec": round(time.time() - t0, 2), "rows": hits}
    shutil.rmtree(idx_path, ignore_errors=True)
    # Persisted MinHash-LSH band index (r6): the incremental-dedup
    # lifecycle at factor-x — build sketches the whole corpus once;
    # the probe checks a FIXED-SIZE shard (the sf0.1 base corpus with
    # planted every-100th duplicates of indexed docs) via two
    # broadcast-probe index scans, so probe cost must track the SHARD
    # and the scan, never a shuffle of the index. Dup count must be
    # >= the planted 1% (banding may surface extra same-template hits).
    from meshtastic_airsensor_database_spark.operators.dedup_index import (
        build_minhash_index,
        dedup_new_batch,
    )

    mh_path = "/tmp/spark_graft_scale_mhindex"
    shutil.rmtree(mh_path, ignore_errors=True)
    spark._jvm.System.gc()
    t0 = time.time()
    build_minhash_index(docs, mh_path)
    out["mhindex_build"] = {"sec": round(time.time() - t0, 2), "rows": n_docs}
    # TWO selects on purpose: deriving text and re-aliasing doc_id in
    # ONE select list would let the lateral column alias shadow the
    # seed (the replicate_docs note) — the plant must hash the ORIGINAL
    # doc_id, then the shard id shifts in a second projection.
    shard = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 100 == 0,
            # planted: exact text of an indexed replica of this base doc
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(0), F.lit(TOKENS_PER_DOC - 1)),
                    lambda i: F.concat(
                        F.lit("t"),
                        F.pmod(
                            # rep-0 replica's EFFECTIVE seed (see the
                            # lateral-alias note in replicate_docs)
                            F.xxhash64(F.col("doc_id") * factor * factor, i),
                            F.lit(VOCAB),
                        ).cast("string"),
                    ),
                ),
            ),
        ).otherwise(F.col("text")).alias("text"),
    ).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    ).localCheckpoint(eager=True)
    n_shard = shard.count()
    spark._jvm.System.gc()
    t0 = time.time()
    dups = dedup_new_batch(shard, mh_path, threshold=0.9).count()
    out["mhindex_probe"] = {"sec": round(time.time() - t0, 2), "rows": dups,
                            "shard_rows": n_shard}
    assert dups >= n_shard // 100, (dups, n_shard)
    shutil.rmtree(mh_path, ignore_errors=True)
    # r11: the md5 ORACLE tier of the same lifecycle at factor-x — 4
    # md5 digests per shingle instead of one xxhash64 per shingle, so
    # the build delta quantifies what SQL-twinnability costs (the tier
    # exists for oracle-gated lifecycles, not as the scale default).
    # Probe semantics are identical (matching-minima estimator over
    # the tier's own 16 perms), so the planted shard must surface here
    # too; probe cost must stay shard+scan-shaped like the main tier.
    md5_path = "/tmp/spark_graft_scale_mhindex_md5"
    shutil.rmtree(md5_path, ignore_errors=True)
    spark._jvm.System.gc()
    t0 = time.time()
    build_minhash_index(docs, md5_path, sketch="md5")
    out["mhindex_md5_build"] = {"sec": round(time.time() - t0, 2),
                                "rows": n_docs}
    spark._jvm.System.gc()
    t0 = time.time()
    dups_md5 = dedup_new_batch(shard, md5_path, threshold=0.9).count()
    out["mhindex_md5_probe"] = {"sec": round(time.time() - t0, 2),
                                "rows": dups_md5, "shard_rows": n_shard}
    assert dups_md5 >= n_shard // 100, (dups_md5, n_shard)
    shutil.rmtree(md5_path, ignore_errors=True)
    # r8: the two exact regression twins at factor-x (r7 verdict item
    # 7). Both are latency-bound at sf0.01 (fixed #jobs: linreg is ONE
    # 15-moment aggregate; logreg is LOGREG_ITERS+2 single-row
    # aggregates), so wall must grow SUBLINEARLY with corpus size —
    # near-flat until the scan dominates. The corpus goes through
    # parquet (a real corpus is stored, not an expression pipeline) and
    # the plan functions run UNCHANGED via their (spark, sf_dir)
    # contract. Weights stay numpy-pinned at scale: lstsq / plain-float
    # GD on the collected integer feature frame reproduces the
    # distributed decimal-route result within rounding tolerance.
    from meshtastic_airsensor_database_spark.functions.text import (
        token_count,
        tokens,
    )
    from meshtastic_airsensor_database_spark.plans.textq import (
        LOGREG_ITERS,
        LOGREG_LR,
        linreg_token_diversity,
        logreg_quality_gd,
    )

    # The LSH smoke corpus is fixed-width (50 tokens/doc) BY DESIGN —
    # which makes x1 (token count) collinear with the intercept and the
    # normal matrix singular (zero pivot). The regression smoke needs
    # feature VARIANCE, so its corpus varies 20-79 tokens per doc by id
    # hash (same hashing-trick vocabulary, same factor-x row count).
    reg_dir = "/tmp/spark_graft_scale_regdocs"
    shutil.rmtree(reg_dir, ignore_errors=True)
    n_tok = (F.pmod(F.xxhash64("id", F.lit(-1)), F.lit(60)) + 20).cast("int")
    # odd ids draw from a 10-token vocabulary (repetition-heavy, low
    # diversity -> label 0), even ids from the full one (label 1): the
    # classifier sees both classes and the diversity target varies.
    vocab_eff = F.when(F.col("id") % 2 == 1, F.lit(10)).otherwise(F.lit(VOCAB))
    fan_out(
        spark.range(n_docs).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(0), n_tok - 1),
                    lambda i: F.concat(
                        F.lit("t"),
                        F.pmod(F.xxhash64("id", i), vocab_eff).cast("string"),
                    ),
                ),
            ).alias("text"),
        )
    ).write.parquet(os.path.join(reg_dir, "documents.parquet"))
    spark._jvm.System.gc()
    t0 = time.time()
    lin = {row["term"]: row for row in
           linreg_token_diversity(spark, reg_dir).collect()}
    out["linreg_token_diversity"] = {
        "sec": round(time.time() - t0, 2), "rows": n_docs,
        "r2": lin["intercept"]["r2"],
    }
    spark._jvm.System.gc()
    t0 = time.time()
    logr = {row["term"]: row for row in
            logreg_quality_gd(spark, reg_dir).collect()}
    out["logreg_quality_gd"] = {
        "sec": round(time.time() - t0, 2), "rows": n_docs,
        "train_accuracy": logr["intercept"]["train_accuracy"],
    }
    # numpy pin on the SAME corpus: integer features collected once
    # (4 scalars/doc — bounded by the replicated corpus, fine at smoke
    # scale; the distributed path never collects this).
    feats = (
        spark.read.parquet(os.path.join(reg_dir, "documents.parquet"))
        .select(
            token_count(F.col("text")).cast("long").alias("x1"),
            F.length("text").cast("long").alias("x2"),
            F.size(F.filter(tokens(F.col("text")),
                            lambda w: F.length(w) > 5)).cast("long").alias("x3"),
            F.when(F.trim(F.col("text")) == "", F.lit(0)).otherwise(
                F.size(F.array_distinct(tokens(F.col("text"))))
            ).cast("long").alias("y"),
        )
        .toPandas()
    )
    X = np.column_stack([np.ones(len(feats)),
                         feats["x1"], feats["x2"], feats["x3"]]).astype(float)
    yv = feats["y"].to_numpy(dtype=float)
    w_np, *_ = np.linalg.lstsq(X, yv, rcond=None)
    w_q = [lin[t]["weight"] for t in
           ("intercept", "n_tokens", "n_chars", "n_long_tokens")]
    assert max(abs(a - b) for a, b in zip(w_np, w_q)) < 2e-6, (w_np, w_q)
    Z = X / np.array([1.0, 64.0, 1024.0, 64.0])
    yl = (2 * yv >= feats["x1"].to_numpy(dtype=float)).astype(float)
    wg = np.zeros(4)
    for _ in range(LOGREG_ITERS):
        e = 1.0 / (1.0 + np.exp(-(Z @ wg))) - yl
        wg = wg - LOGREG_LR * (Z.T @ e) / len(yl)
    w_ql = [logr[t]["weight"] for t in
            ("intercept", "tokens_64th", "chars_1024th", "long_tokens_64th")]
    # plain-float GD vs the decimal-route trajectory: tolerance pin
    # (the exact per-step rounding is the oracle twin's job)
    assert max(abs(a - b) for a, b in zip(wg, w_ql)) < 1e-3, (wg, w_ql)
    shutil.rmtree(reg_dir, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
