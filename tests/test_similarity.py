"""Vector similarity operator tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from meshtastic_airsensor_database_spark.io_utils import load
from meshtastic_airsensor_database_spark.operators.similarity import (
    assign_ivf_clusters,
    brute_force_topk,
    ivf_topk,
)


def test_brute_force_topk_exact(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    top = brute_force_topk(emb, query_vec_id=0, k=5).collect()
    assert len(top) == 5
    cosines = [r.cosine for r in top]
    assert cosines == sorted(cosines, reverse=True)
    assert all(-1.0 <= c <= 1.0 for c in cosines)
    assert all(r.vec_id != 0 for r in top)


def test_ivf_assignment_covers_all(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    assigned = assign_ivf_clusters(emb, n_centroids=8)
    assert assigned.count() == emb.count()  # every vector in exactly one cluster
    clusters = {r.cluster for r in assigned.select("cluster").distinct().collect()}
    assert clusters <= set(range(8))


def test_ivf_topk_subset_of_probed_and_sane(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    approx = ivf_topk(emb, query_vec_id=0, k=10, n_centroids=8, n_probe=3).collect()
    assert len(approx) == 10
    # every approx result must be at least as good as brute-force rank-2000th;
    # with random vectors recall is partial by design — check containment of
    # the probed-cluster guarantee instead: results sorted, no self-match.
    cos = [r.cosine for r in approx]
    assert cos == sorted(cos, reverse=True)
    assert all(r.vec_id != 0 for r in approx)


def test_ivf_full_probe_equals_brute_force(spark, sf_dir):
    """Probing ALL clusters must recover the exact brute-force top-k."""
    emb = load(spark, sf_dir, "embeddings")
    exact = [r.vec_id for r in brute_force_topk(emb, 0, k=10).collect()]
    full = [
        r.vec_id
        for r in ivf_topk(emb, query_vec_id=0, k=10, n_centroids=8, n_probe=8).collect()
    ]
    assert full == exact


def test_embedding_lsh_neardup_pairs_recall_vs_exact(spark, sf_dir):
    """Sign-LSH pruned + verified pairs (the registered
    embedding_lsh_neardup_pairs) vs the exact all-pairs set: no false
    positives (verification is exact), recall >= 0.7 at the corpus
    threshold with the tuned 24 planes in 8 bands."""
    from meshtastic_airsensor_database_spark.io_utils import fan_out
    from meshtastic_airsensor_database_spark.functions.vectors import cosine_similarity
    from meshtastic_airsensor_database_spark.plans.base import r as decimal_round
    from meshtastic_airsensor_database_spark.plans.vectorq import (
        COSINE_PAIR_THRESHOLD,
        embedding_lsh_neardup_pairs,
    )

    emb = fan_out(load(spark, sf_dir, "embeddings"))
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    exact = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                decimal_round(cosine_similarity("ea", "eb"), 4).alias("cos"))
        .filter(F.col("cos") >= COSINE_PAIR_THRESHOLD)
        .collect()
    }
    got = {
        (r.id_a, r.id_b)
        for r in embedding_lsh_neardup_pairs(spark, sf_dir).collect()
    }
    assert got <= exact  # exact verification -> no false positives
    if exact:
        assert len(got & exact) / len(exact) >= 0.7


def test_lloyd_ivf_full_probe_equals_brute_force(spark, sf_dir):
    """The deterministic Lloyd's-trained IVF (the oracle-backed
    ann_kmeans_ivf_topk path) also recovers the exact brute-force
    top-k when probing every cluster."""
    from meshtastic_airsensor_database_spark.operators.similarity import (
        lloyd_ivf_topk,
    )

    emb = load(spark, sf_dir, "embeddings")
    exact = [r.vec_id for r in brute_force_topk(emb, 0, k=10).collect()]
    full = [
        r.vec_id
        for r in lloyd_ivf_topk(
            emb, query_vec_id=0, k=10, n_centroids=8, n_probe=8
        ).collect()
    ]
    assert full == exact


def test_lloyd_centroids_are_member_means(spark, sf_dir):
    """One Lloyd round's centroids equal the per-dimension means of the
    vectors its assignment put in each cluster (recomputed directly
    from the assignment — pins the update step's math)."""
    import numpy as np

    from meshtastic_airsensor_database_spark.operators.similarity import (
        assign_to_centroids_euclidean,
        lloyd_kmeans_centroids,
    )

    emb = load(spark, sf_dir, "embeddings")
    init = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").cast("int").alias("cid"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    trained = {
        r.cid: np.array(r.cv)
        for r in lloyd_kmeans_centroids(emb, n_centroids=4, n_iters=1).collect()
    }
    members: dict[int, list] = {}
    for row in assign_to_centroids_euclidean(emb, init).collect():
        members.setdefault(row.cluster, []).append(np.array(row.embedding, float))
    assert set(trained) == {c for c, v in members.items() if v}
    for cid, vecs in members.items():
        expected = np.round(np.mean(np.stack(vecs), axis=0), 6)
        assert np.allclose(trained[cid], expected, atol=1e-6), cid


def test_batch_topk_matches_single_query_bruteforce(spark, sf_dir):
    """Two-stage partial top-k merge == per-query brute force, and the
    plan contains no Window (the full scored set is never shuffled)."""
    from pyspark.sql import functions as F

    from meshtastic_airsensor_database_spark.io_utils import load
    from meshtastic_airsensor_database_spark.operators.similarity import (
        brute_force_topk,
    )
    from meshtastic_airsensor_database_spark.plans.vectorq import (
        BATCH_K,
        QUERY_BATCH_IDS,
        embedding_batch_topk,
    )

    got = embedding_batch_topk(spark, sf_dir)
    assert "Window" not in got._jdf.queryExecution().executedPlan().toString()
    by_query = {
        qid: [(r["vec_id"], r["cosine"]) for r in rows]
        for qid, rows in (
            (qid, sorted(
                [r for r in got.collect() if r["query_id"] == qid],
                key=lambda r: r["rnk"],
            ))
            for qid in QUERY_BATCH_IDS
        )
    }
    emb = load(spark, sf_dir, "embeddings")
    for qid in QUERY_BATCH_IDS:
        want = [
            (r["vec_id"], r["cosine"])
            for r in brute_force_topk(emb, qid, k=BATCH_K).collect()
        ]
        # brute_force excludes only the query vec; batch also excludes it
        assert by_query[qid] == want, qid


def test_quantize_int8_bounds_and_error(spark, sf_dir):
    """Quantized elements stay in [-127, 127]; dequantized values land
    within half a scale step of the original; zero vectors quantize to
    zeros without dividing by zero."""
    from pyspark.sql import functions as F

    from meshtastic_airsensor_database_spark.functions.vectors import (
        int8_scale,
        quantize_int8,
    )
    from meshtastic_airsensor_database_spark.io_utils import load

    emb = load(spark, sf_dir, "embeddings")
    qdf = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        quantize_int8("embedding").alias("q"),
        int8_scale("embedding").alias("s"),
    )
    stats = qdf.select(
        F.array_max(F.transform("q", lambda x: F.abs(x))).alias("qmax"),
        F.array_max(
            F.zip_with("v", "q", lambda v, q: F.abs(v - q * F.col("s")))
        ).alias("err"),
        "s",
    ).agg(
        F.max("qmax").alias("qmax"), F.max(F.col("err") / F.col("s")).alias("relerr")
    ).first()
    assert stats["qmax"] <= 127
    assert stats["relerr"] <= 0.5 + 1e-9

    zero = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    row = zero.select(quantize_int8("embedding").alias("q")).first()
    assert row["q"] == [0, 0, 0]


def test_quantized_topk_recall_vs_exact(spark, sf_dir):
    """int8 cosine ranking must retain nearly all of the exact top-10
    (64-dim int8 error is small; recall@10 >= 0.8 is a loose floor)."""
    from meshtastic_airsensor_database_spark.io_utils import load
    from meshtastic_airsensor_database_spark.operators.similarity import (
        brute_force_topk,
    )
    from meshtastic_airsensor_database_spark.plans.vectorq import (
        quantized_topk_cosine,
    )

    emb = load(spark, sf_dir, "embeddings")
    exact = {r.vec_id for r in brute_force_topk(emb, 0, k=10).collect()}
    quant = {r.vec_id for r in quantized_topk_cosine(spark, sf_dir).collect()}
    assert len(quant & exact) >= 8


def test_arrow_assignment_matches_builtin_assignment(spark, sf_dir):
    """The BLAS path must produce the exact same (vector -> cluster)
    mapping as the pure-built-in argmax formulation."""
    from meshtastic_airsensor_database_spark.io_utils import load
    from meshtastic_airsensor_database_spark.operators.similarity import (
        assign_ivf_clusters,
        assign_ivf_clusters_arrow,
    )

    emb = load(spark, sf_dir, "embeddings")
    a = {r["vec_id"]: r["cluster"]
         for r in assign_ivf_clusters(emb, 8).collect()}
    b = {r["vec_id"]: r["cluster"]
         for r in assign_ivf_clusters_arrow(emb, 8).collect()}
    assert a == b


def test_batch_topk_arrow_equals_expression_path(spark, sf_dir):
    from meshtastic_airsensor_database_spark.plans.vectorq import (
        BATCH_K,
        _batch_scores_expr,
        _partial_topk_merge,
        embedding_batch_topk,
    )

    emb = load(spark, sf_dir, "embeddings")
    a = sorted(tuple(r) for r in embedding_batch_topk(spark, sf_dir).collect())
    b = sorted(
        tuple(r)
        for r in _partial_topk_merge(_batch_scores_expr(emb), BATCH_K).collect()
    )
    assert a == b


def test_semantic_dedup_pairs_recall_and_parity(spark, sf_dir):
    """SemDeDup cluster-pruned pairs vs the exact all-pairs set: exact
    verification means no false positives; recall is bounded by cluster
    granularity (pairs straddling clusters are missed) — assert the
    achieved recall floor on the fixed corpus. The Arrow/BLAS
    assignment variant must produce the identical pair set as the
    pure-expression one."""
    from pyspark.sql import functions as F

    from meshtastic_airsensor_database_spark.functions.vectors import cosine_similarity
    from meshtastic_airsensor_database_spark.io_utils import fan_out
    from meshtastic_airsensor_database_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    emb = fan_out(load(spark, sf_dir, "embeddings"))
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    exact = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.round(cosine_similarity("ea", "eb"), 4).alias("cos"))
        .filter(F.col("cos") >= 0.4)
        .collect()
    }
    got = {
        (r.id_a, r.id_b)
        for r in semantic_dedup_pairs(emb, threshold=0.4, vectorized=False).collect()
    }
    assert got <= exact  # exact in-cluster verification -> no false positives
    # On THIS corpus (uniform-ish synthetic embeddings — the hardest
    # case for cluster pruning) 8 clusters retain ~29% of exact pairs;
    # recall rises as clusters coarsen (for real corpora SemDeDup
    # relies on semantic clusterability the synthetic data lacks).
    if exact:
        assert len(got & exact) / len(exact) >= 0.25
        coarse = {
            (r.id_a, r.id_b)
            for r in semantic_dedup_pairs(
                emb, threshold=0.4, n_centroids=2, vectorized=False
            ).collect()
        }
        assert coarse <= exact
        assert len(coarse & exact) >= len(got & exact)  # coarser -> recall up

    got_arrow = {
        (r.id_a, r.id_b)
        for r in semantic_dedup_pairs(emb, threshold=0.4, vectorized=True).collect()
    }
    assert got_arrow == got


def test_standardize_vectors_zero_mean_unit_std(spark):
    import math

    from meshtastic_airsensor_database_spark.operators.similarity import (
        embedding_dim_stats,
        standardize_vectors,
    )

    rows = [(i, [float(i), 10.0 * i, 5.0]) for i in range(8)]  # dim 2 constant
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    stats = embedding_dim_stats(emb)
    z = standardize_vectors(emb, stats).select("z_vec").collect()
    dims = list(zip(*[r["z_vec"] for r in z]))
    for d in (0, 1):
        vals = dims[d]
        assert abs(sum(vals) / len(vals)) < 1e-9
        var = sum(v * v for v in vals) / len(vals)
        assert math.isclose(var, 1.0, rel_tol=1e-9)
    # constant dimension -> NULL z-scores, not a divide-by-zero
    assert all(v is None for v in dims[2])


def test_ivf_index_search_matches_live_topk(spark, sf_dir, tmp_path):
    """Persisted-index search must equal the live lloyd_ivf_topk for
    the same parameters (build once == train per query)."""
    from meshtastic_airsensor_database_spark.operators.similarity import (
        lloyd_ivf_topk,
    )
    from meshtastic_airsensor_database_spark.operators.vindex import (
        build_ivf_index,
        search_ivf_index,
    )

    emb = load(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=8, n_iters=2)
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    got = [
        (r.vec_id, r.cluster, r.cosine)
        for r in search_ivf_index(
            spark, path, qvec, k=10, n_probe=3, exclude_id=0
        ).collect()
    ]
    live = [
        (r.vec_id, r.cluster, r.cosine)
        for r in lloyd_ivf_topk(
            emb, query_vec_id=0, k=10, n_centroids=8, n_probe=3
        ).collect()
    ]
    assert got == live


def test_ivf_index_probe_is_partition_pruned(spark, sf_dir, tmp_path):
    """The probe must read ONLY the probed clusters' partitions — the
    persisted layout IS the inverted list, enforced at file-listing
    time, not by a post-read filter."""
    import re as _re

    from meshtastic_airsensor_database_spark.operators.vindex import (
        build_ivf_index,
        search_ivf_index,
    )

    emb = load(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=8, n_iters=2)
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    out = search_ivf_index(spark, path, qvec, k=10, n_probe=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cluster" in m.group(1), plan  # filter reached the listing
    # execute and read the scan's actual file-selection metrics: only
    # the probed clusters' partitions may be listed for read
    out.collect()
    scan = out._jdf.queryExecution().executedPlan()
    leaves = scan.collectLeaves()
    metrics = leaves.apply(0).metrics()
    n_parts = metrics.get("numPartitions").get().value()
    all_clusters = {
        int(mm.group(1))
        for f in spark.read.parquet(f"{path}/vectors").inputFiles()
        for mm in [_re.search(r"cluster=(\d+)", f)]
        if mm
    }
    assert n_parts <= 3 < len(all_clusters), (n_parts, len(all_clusters))


def test_ivf_index_extend_appends_without_rewrite(spark, sf_dir, tmp_path):
    """extend assigns against the FROZEN centroids and appends: search
    over the extended index equals a probe/re-rank over the union with
    the ORIGINAL centroids, and pre-existing files are untouched."""
    from meshtastic_airsensor_database_spark.operators.vindex import (
        build_ivf_index,
        extend_ivf_index,
        search_ivf_index,
    )

    emb = load(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    extra = emb.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivf")
    build_ivf_index(base, path, n_centroids=4, n_iters=1)
    files_before = set(spark.read.parquet(f"{path}/vectors").inputFiles())
    extend_ivf_index(extra, path)
    files_after = set(spark.read.parquet(f"{path}/vectors").inputFiles())
    assert files_before <= files_after  # append-only

    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    got = {
        r.vec_id
        for r in search_ivf_index(
            spark, path, qvec, k=10, n_probe=4, exclude_id=0
        ).collect()
    }
    # probing ALL clusters == brute force over the union
    from meshtastic_airsensor_database_spark.operators.similarity import (
        brute_force_topk,
    )

    exact = {r.vec_id for r in brute_force_topk(emb, 0, k=10).collect()}
    assert got == exact


def test_ivf_index_lifecycle_durability_r11(spark, sf_dir, tmp_path, monkeypatch):
    """The decon/dedup-index discipline applied to the IVF index (r11):
    _meta.json stamps dim + n_centroids (missing/mismatched dim refused
    on extend AND search — zip_with would truncate silently), empty
    build refused / empty extend a no-op, and a crashed REBUILD leaves
    the original generation fully intact (staged swap) — never new
    centroids pruning old assignments."""
    import os

    import pytest
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    from meshtastic_airsensor_database_spark.operators.vindex import (
        build_ivf_index,
        extend_ivf_index,
        search_ivf_index,
    )

    emb = load(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    with pytest.raises(ValueError, match="empty corpus"):
        build_ivf_index(emb.filter(F.lit(False)), path)
    build_ivf_index(emb, path, n_centroids=4, n_iters=1)
    assert os.path.exists(os.path.join(path, "_meta.json"))
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]

    # wrong-dim query / batch refused (silent zip_with truncation class)
    with pytest.raises(ValueError, match="dim"):
        search_ivf_index(spark, path, qvec[:3], k=5)
    wrong_dim = emb.select("vec_id", F.slice("embedding", 1, 3).alias("embedding"))
    with pytest.raises(ValueError, match="dim"):
        extend_ivf_index(wrong_dim, path)
    # missing stamp refused
    os.rename(os.path.join(path, "_meta.json"), str(tmp_path / "stamp_bak"))
    with pytest.raises(ValueError, match="no _meta.json stamp"):
        search_ivf_index(spark, path, qvec, k=5)
    os.replace(str(tmp_path / "stamp_bak"), os.path.join(path, "_meta.json"))

    # empty extend: no-op, no new files
    files_before = set(spark.read.parquet(f"{path}/vectors").inputFiles())
    extend_ivf_index(emb.filter(F.lit(False)), path)
    assert set(spark.read.parquet(f"{path}/vectors").inputFiles()) == files_before

    # crashed rebuild: original generation intact, next entry sweeps
    before = [
        (r.vec_id, r.cluster, r.cosine)
        for r in search_ivf_index(spark, path, qvec, k=5, n_probe=2).collect()
    ]
    real_write = ClassicDF.write
    calls = {"n": 0}

    def _second_write_dies(self):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise RuntimeError("simulated crash mid-rebuild")
        return real_write.fget(self)

    monkeypatch.setattr(ClassicDF, "write", property(_second_write_dies))
    with pytest.raises(RuntimeError, match="mid-rebuild"):
        build_ivf_index(emb, path, n_centroids=8, n_iters=2)
    monkeypatch.undo()
    after = [
        (r.vec_id, r.cluster, r.cosine)
        for r in search_ivf_index(spark, path, qvec, k=5, n_probe=2).collect()
    ]
    assert after == before
    extend_ivf_index(emb.limit(3).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    ), path)
    assert not os.path.exists(path + ".build-staging")


# --- MMR re-ranking ------------------------------------------------------------


def test_mmr_matches_python_greedy_reference(spark):
    """The Spark loop's greedy trajectory must equal a plain-Python
    MMR over the same pool with the same rounding."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import functions as F

    from meshtastic_airsensor_database_spark.operators.similarity import mmr_rerank
    from meshtastic_airsensor_database_spark.plans.base import r

    def rnd4(x):
        d = Decimal(repr(x)).quantize(Decimal("1e-9"), ROUND_HALF_UP)
        return float(d.quantize(Decimal("1e-4"), ROUND_HALF_UP))

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        return num / den

    vecs = {
        1: [1.0, 0.0, 0.1], 2: [0.99, 0.02, 0.1], 3: [0.0, 1.0, 0.2],
        4: [0.1, 0.9, 0.3], 5: [0.5, 0.5, 0.5], 6: [0.98, 0.01, 0.12],
    }
    qv = [1.0, 0.1, 0.1]
    pool_rows = [(i, v, rnd4(cos(v, qv))) for i, v in vecs.items()]
    pool = spark.createDataFrame(pool_rows, "vec_id int, v array<double>, rel double")

    got = mmr_rerank(pool, k=3, lam=0.7, mu=0.3)

    # plain-Python greedy with identical rounding
    sel, want = [], []
    remaining = dict(vecs)
    rels = {i: rel for i, _, rel in pool_rows}
    for step in range(1, 4):
        best = None
        for i, v in sorted(remaining.items()):
            if not sel:
                score = rnd4(0.7 * rels[i])
            else:
                msim = max(rnd4(cos(v, vecs[s])) for s in sel)
                score = rnd4(0.7 * rels[i] - 0.3 * msim)
            if best is None or score > best[1]:
                best = (i, score)
        sel.append(best[0])
        del remaining[best[0]]
        want.append((step, best[0], rels[best[0]], best[1]))
    assert got == want
    # with a diversity-heavy trade-off, the near-duplicates of the
    # first pick (2, 6) must NOT fill the remaining slots, unlike the
    # pure-relevance top-3
    diverse = mmr_rerank(pool, k=3, lam=0.3, mu=0.7)
    assert {g[1] for g in diverse} != {1, 2, 6}


def test_registered_ivf_lifecycle_query_pins_frozen_extend(spark, sf_dir):
    """The registered ``ivf_index_topk`` query (driver-hash evidence
    for the PERSISTED path) must equal the in-memory composition of
    the same semantics: Lloyd centroids trained on the BASE subset
    only, base AND shard assigned against those frozen centroids,
    partition-independent probe + exact cosine re-rank. Catches any
    divergence between the parquet/partitionBy round-trip and the
    declarative math — and, because the twin's training set excludes
    the shard, any accidental retraining during extend."""
    from meshtastic_airsensor_database_spark.operators.similarity import (
        assign_to_centroids_euclidean,
        lloyd_kmeans_centroids,
    )
    from meshtastic_airsensor_database_spark.functions.vectors import (
        cosine_similarity,
    )
    from meshtastic_airsensor_database_spark.plans.vectorq import (
        ANN_N_CENTROIDS,
        ANN_N_PROBE,
        LLOYD_ITERS,
        QUERY_VEC_ID,
        TOP_K,
        ivf_index_topk,
    )

    got = [
        (r.vec_id, r.cluster, r.cosine)
        for r in ivf_index_topk(spark, sf_dir).collect()
    ]

    emb = load(spark, sf_dir, "embeddings")
    in_base = (F.col("vec_id") % 3 != 2) | (F.col("vec_id") < ANN_N_CENTROIDS)
    cents = lloyd_kmeans_centroids(
        emb.filter(in_base), ANN_N_CENTROIDS, LLOYD_ITERS
    )
    assigned = assign_to_centroids_euclidean(emb, cents)
    qv = emb.filter(F.col("vec_id") == QUERY_VEC_ID).first()["embedding"]
    q = [float(x) for x in qv]
    probed = [
        int(r["cid"])
        for r in sorted(
            cents.collect(),
            key=lambda r: (
                sum((float(a) - b) ** 2 for a, b in zip(r["cv"], q)),
                int(r["cid"]),
            ),
        )
    ][:ANN_N_PROBE]
    qcol = F.array(*[F.lit(x) for x in q]).cast("array<double>")
    want = [
        (r.vec_id, r.cluster, r.cosine)
        for r in assigned.filter(F.col("cluster").isin(probed))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select(
            "vec_id",
            "cluster",
            F.round(
                cosine_similarity(F.col("embedding"), qcol).cast(
                    "decimal(38,9)"
                ),
                4,
            )
            .cast("double")
            .alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(TOP_K)
        .collect()
    ]
    assert got == want and len(got) == TOP_K


def test_nonfinite_centroid_pack_matches_broadcast_path(spark):
    """A NaN/Inf-poisoned centroid mean must keep the literal-inlined
    assignment on NaN-propagating semantics (identical to the classic
    broadcast path), not raise an AnalysisException from an unparsable
    ``nan``/``inf`` literal (r11 verdict #1)."""
    import meshtastic_airsensor_database_spark.operators.similarity as sim

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, -1.0]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [
            (0, [0.0, 1.0, -1.0]),
            (1, [float("nan"), 1.0, -1.0]),
            (2, [float("inf"), float("-inf"), 0.0]),
            (3, [9.0, 1.0, -1.0]),
        ],
        "cid int, cv array<double>",
    )
    lit_rows = sorted(
        (r.vec_id, r.cluster)
        for r in sim.assign_to_centroids_euclidean(emb, cents).collect()
    )
    # force the classic crossJoin+broadcast fallback by dropping the
    # cutover to zero — the two paths must agree element for element
    old = sim._CENT_LITERAL_MAX_DOUBLES
    sim._CENT_LITERAL_MAX_DOUBLES = 0
    try:
        bc_rows = sorted(
            (r.vec_id, r.cluster)
            for r in sim.assign_to_centroids_euclidean(emb, cents).collect()
        )
    finally:
        sim._CENT_LITERAL_MAX_DOUBLES = old
    assert lit_rows == bc_rows and len(lit_rows) == 12


def test_r4_py_nonfinite_mirrors_spark_decimal_route(spark):
    """Spark's CAST(double AS DECIMAL(38,9)) nulls NaN/±Infinity, so
    the decimal rounding route yields NULL for non-finite scores —
    ``_r4_py`` must return None there (not raise InvalidOperation),
    keeping the mmr greedy loop bit-faithful on poisoned cosines."""
    from meshtastic_airsensor_database_spark.operators.similarity import _r4_py
    from meshtastic_airsensor_database_spark.plans.base import r

    vals = [float("nan"), float("inf"), float("-inf"), 0.123456789]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got_spark = [row[0] for row in df.select(r(F.col("x"), 4)).collect()]
    got_py = [_r4_py(v) for v in vals]
    assert got_spark == got_py == [None, None, None, 0.1235]


def test_ann_pq_topk_absent_query_id_returns_empty(spark, tmp_path):
    """An embeddings shard without the query id must yield an EMPTY
    correctly-typed top-k (the replaced crossJoin(broadcast(q)) form's
    contract), not a TypeError off ``head()[...]`` (r11 ADVICE)."""
    from meshtastic_airsensor_database_spark.plans.vectorq import (
        PQD_K,
        QUERY_VEC_ID,
        ann_pq_topk,
    )

    # ids start ABOVE the query id; dim 8 is divisible by PQD_M and the
    # first PQD_K present ids seed the codebooks as usual
    rows = [
        (i, [float((i * 7 + d) % 5) - 2.0 for d in range(8)], 0)
        for i in range(QUERY_VEC_ID + 1, QUERY_VEC_ID + 1 + 4 * PQD_K)
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{sf_dir}/embeddings.parquet")
    out = ann_pq_topk(spark, sf_dir)
    assert out.columns == ["vec_id", "adc_d2", "cosine"]
    assert out.count() == 0


def test_ann_pq_topk_on_empty_embeddings_returns_empty(spark, tmp_path):
    """An empty embeddings table has no vector to size the subspaces
    from; the top-k is empty and typed like a non-empty run, as the
    twin returns 0 rows."""
    from meshtastic_airsensor_database_spark.plans.vectorq import ann_pq_topk

    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{sf_dir}/embeddings.parquet")
    out = ann_pq_topk(spark, sf_dir)
    assert out.dtypes == [("vec_id", "bigint"), ("adc_d2", "double"),
                          ("cosine", "double")]
    assert out.count() == 0


def test_ann_pq_topk_rerank_is_exact(spark, sf_dir):
    """ADC top-k with exact re-rank vs exact brute force: the re-rank
    makes reported cosines exact, so every returned id that is also in
    the brute-force top-10 carries the identical cosine; rows come
    sorted by cosine, and ADC distances are squared L2 (>= 0). Recall
    has no floor here: the derandomized 4x8 codebook is coarse, and
    ADC candidates can miss."""
    from meshtastic_airsensor_database_spark.plans.vectorq import (
        QUERY_VEC_ID,
        TOP_K,
        ann_pq_topk,
    )

    emb = load(spark, sf_dir, "embeddings")
    exact = {r.vec_id: r.cosine
             for r in brute_force_topk(emb, QUERY_VEC_ID, k=TOP_K).collect()}
    got = ann_pq_topk(spark, sf_dir).collect()
    assert len(got) == TOP_K
    assert QUERY_VEC_ID not in {r.vec_id for r in got}
    for row in got:
        if row.vec_id in exact:
            assert row.cosine == exact[row.vec_id]
    cosines = [r.cosine for r in got]
    assert cosines == sorted(cosines, reverse=True)
    assert all(r.adc_d2 >= 0 for r in got)
