"""Vector similarity search (SURVEY.md §2.11 similarity_search_topk).

Two tiers over an ``array<float>`` embedding column:

1. brute_force_topk — exact: one scan, cosine in built-in expressions,
   TakeOrderedAndProject. The correctness baseline at any scale where a
   full scan is affordable.
2. ivf_topk         — IVF: vectors pre-assigned to nearest centroid
   partitions; a query probes only n_probe partitions. At 100 TB the
   assignment is the table's PARTITION KEY, so probing k of C
   partitions reads k/C of the data (partition pruning).

Random-hyperplane sign-LSH (candidates from colliding bands only, then
exact re-rank) is functions/vectors.py::sign_band_rows, the one md5
hyperplane banding behind plans/vectorq.py's LSH queries and
operators/decon_index.py.

All math is double-precision built-ins (zip_with/aggregate); the only
Python is driver-side centroid handling (tiny, broadcast back).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import (
    cosine_similarity,
    dist2_raw,
    dot_raw,
    double_sql_literal,
    l2_norm,
)
from ..io_utils import fan_out


def brute_force_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k to one stored vector (the oracle baseline)."""
    q = emb.filter(F.col(id_col) == query_vec_id).select(F.col(vec_col).alias("_qv"))
    return (
        emb.filter(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            F.round(cosine_similarity(F.col(vec_col), F.col("_qv")), 4).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def assign_ivf_clusters(
    emb: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest 'centroid'.

    Deterministic stand-in for k-means training: the first
    ``n_centroids`` vectors by id act as centroids (documented fake —
    the assignment/probe PLUMBING is the operator under test; a real
    deployment drops in trained centroids). All centroids are packed
    into ONE broadcast row as an array<struct> and the per-vector
    argmax runs as a narrow ``transform`` + ``array_max`` projection:
    NO row fan-out, NO aggregation, NO shuffle — strictly better than
    both a window argmax (shuffles n x C rows) and a map-side
    ``max_by`` (still exchanges one row per vector): the assignment
    stage touches each vector exactly once where it already lives.
    C ~ thousands of centroids stays comfortably inside a broadcast.
    Tie-break: highest cosine, then lowest centroid_id (negated id as
    the second struct comparison field; ids are unique, so the order
    is strict and the result deterministic).
    """
    cent_row = (
        emb.filter(F.col(id_col) < n_centroids)
        .select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).cast("array<double>").alias("cv"),
            l2_norm(F.col(vec_col)).alias("cn"),
        )
        .agg(
            F.sort_array(
                F.collect_list(F.struct("cid", "cv", "cn"))
            ).alias("_cents")
        )
    )
    # norms/casts hoisted OUT of the per-centroid lambda: a captured
    # cosine_similarity would recompute the row vector's cast and norm
    # once per centroid (HOF lambdas re-evaluate captured expressions
    # per element — functions/text.py::zipped_ngrams); the centroid
    # norms precompute into the broadcast pack. Same dot/(|a||b|)
    # arithmetic shape, null on zero denom — values bit-identical.
    scored = F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            F.when(
                F.col("_n") * c["cn"] > 0,
                dot_raw(F.col("_v"), c["cv"]) / (F.col("_n") * c["cn"]),
            ).alias("s"),
            (-c["cid"]).alias("t"),
            c["cid"].alias("cid"),
        ),
    )
    # fan_out: the argmax is narrow, so its parallelism equals the scan
    # width — thousands of splits at scale (no-op), one small file
    # locally (spread once, then compute).
    return (
        fan_out(emb)
        .withColumn("_v", F.col(vec_col).cast("array<double>"))
        .withColumn("_n", l2_norm(F.col(vec_col)))
        .crossJoin(F.broadcast(cent_row))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.array_max(scored)["cid"].alias("cluster"),
        )
    )


def assign_ivf_clusters_arrow(
    emb: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Vectorized (Arrow + BLAS) variant of ``assign_ivf_clusters`` —
    the throughput path for bulk assignment.

    The built-in formulation has the right PLAN (narrow, zero-shuffle)
    but its inner loop is Catalyst higher-order functions, which
    evaluate interpreted per array element: n x C x dim ~ 10^8 scalar
    ops stop being free. Here the same zero-shuffle shape runs the math
    as one numpy matmul per Arrow batch ((B, dim) @ (dim, C), BLAS),
    with the unit-normalized centroid matrix shipped in the UDF closure
    (n_centroids x dim — broadcast-sized by construction). Semantics
    match the built-in path: nearest by cosine, ties to the lowest
    centroid id (argmax-first over cid-ascending columns); zero-norm
    vectors score 0 against every centroid and land on the lowest cid.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cent_rows = (
        emb.filter(F.col(id_col) < n_centroids)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
        .orderBy("cid")
        .collect()
    )
    cids = np.array([r["cid"] for r in cent_rows], dtype=np.int64)
    cmat = np.stack([np.asarray(r["cv"], dtype=np.float64) for r in cent_rows])
    norms = np.linalg.norm(cmat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    cmat_t = (cmat / norms).T  # (dim, C), unit columns

    # no pd.Series type hints: pandas is imported function-locally, so
    # the string annotations would not resolve in the UDF type-hint
    # inspection; the explicit returnType carries the contract
    @pandas_udf("long")
    def _nearest(v):
        m = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        mn = np.linalg.norm(m, axis=1, keepdims=True)
        mn[mn == 0] = 1.0
        sims = (m / mn) @ cmat_t
        return pd.Series(cids[np.argmax(sims, axis=1)])

    return fan_out(emb).select(
        F.col(id_col), F.col(vec_col), _nearest(F.col(vec_col)).alias("cluster")
    )


def _euclidean_dist2(a, b):
    """Squared L2 distance between two array columns (built-ins)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    diff = F.zip_with(a.cast("array<double>"), b.cast("array<double>"),
                      lambda x, y: (x - y) * (x - y))
    return F.aggregate(diff, F.lit(0.0), lambda acc, v: acc + v)


def _probe_and_rerank(
    assigned: DataFrame,
    centers: DataFrame,
    q: DataFrame,
    k: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
    query_vec_id: int,
    probe_metric: str = "cosine",
) -> DataFrame:
    """Shared IVF probe + exact re-rank: rank clusters by the query's
    proximity to their centers, keep ``n_probe``, exact cosine re-rank
    within the probed clusters.

    ``probe_metric`` MUST match the geometry that ASSIGNED vectors to
    clusters — 'cosine' when centroids are unit-norm (dataset vectors),
    'euclidean' for k-means centroids (means of unit vectors are NOT
    unit-norm, so cosine-to-center and the Euclidean assignment would
    rank clusters differently and the probe could miss the assigned
    cluster of a true neighbor).

    The query vector is ONE bounded row: it is collected once and
    inlined as an array literal (cosine_similarity casts both sides to
    array<double>, so the collected floats are value-identical to the
    broadcast column), which removes both crossJoin + broadcast-build
    jobs from the probe and keeps the re-rank a narrow projection.
    """
    qrow = q.head()
    if qrow is None:  # query id absent -> empty result, same as before
        return (
            assigned.select(
                F.col(id_col),
                F.col("cluster"),
                F.lit(0.0).alias("cosine"),
            ).limit(0)
        )
    qv_lit = F.expr(
        "array(" + ", ".join(double_sql_literal(x) for x in qrow["_qv"]) + ")"
    )
    if probe_metric == "cosine":
        score = cosine_similarity(F.col("centroid_vec"), qv_lit)
        order = [F.col("_score").desc(), F.col("centroid_id")]
    else:
        score = _euclidean_dist2(F.col("centroid_vec"), qv_lit)
        order = [F.col("_score").asc(), F.col("centroid_id")]
    probe = (
        centers.withColumn("_score", score)
        .orderBy(*order)
        .limit(n_probe)
        .select(F.col("centroid_id").alias("cluster"))
    )
    return (
        assigned.join(F.broadcast(probe), "cluster", "inner")  # partition pruning dual
        .filter(F.col(id_col) != query_vec_id)
        .select(
            F.col(id_col),
            F.col("cluster"),
            # decimal-route rounding (plans/base.py parity rule): plain
            # double ROUND half-up diverges from DuckDB at .xxxx5
            F.round(
                cosine_similarity(F.col(vec_col), qv_lit).cast(
                    "decimal(38,9)"
                ),
                4,
            )
            .cast("double")
            .alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: probe the n_probe clusters nearest the query, exact
    re-rank inside. Returns (vec_id, cluster, cosine) top-k. Assignment
    is the Arrow/BLAS bulk path (``assign_ivf_clusters_arrow``)."""
    assigned = assign_ivf_clusters_arrow(emb, n_centroids, id_col, vec_col)
    q = emb.filter(F.col(id_col) == query_vec_id).select(F.col(vec_col).alias("_qv"))
    cents = emb.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("centroid_vec")
    )
    # centroids here ARE dataset vectors (unit-norm) and assignment is
    # by cosine, so the probe uses cosine too
    return _probe_and_rerank(
        assigned, cents, q, k, n_probe, id_col, vec_col, query_vec_id, "cosine"
    )


def semantic_dedup_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vectorized: bool = True,
) -> DataFrame:
    """Semantic near-dup pairs, cluster-pruned then exactly verified —
    the SemDeDup recipe (Abbas et al. 2023, arXiv:2303.09540): cluster
    the embedding space, then look for high-cosine pairs only WITHIN
    each cluster, never across the whole corpus.

    Pipeline: centroid assignment (narrow, zero-shuffle — the scored
    broadcast-centroid argmax of ``assign_ivf_clusters``) -> candidate
    pairs inside each cluster (the shared one-shuffle bucket-grouping
    shape, ``pairs_within_buckets``) -> exact cosine >= threshold. No
    false positives by construction; recall is bounded by the cluster
    granularity (a pair straddling two clusters is missed — the
    documented SemDeDup trade; pytest measures achieved recall against
    the brute-force all-pairs twin). At scale ``n_centroids`` grows
    with the corpus so cluster sizes stay bounded (SemDeDup uses
    ~100k clusters for web-scale corpora); the per-cluster pair
    generation is quadratic only within a cluster and capped by
    ``pairs_within_buckets``'s degenerate-bucket guard.

    Returns (id_a, id_b, cluster, cosine), id_a < id_b.
    """
    if vectorized:
        return _semantic_pairs_grouped_blas(
            emb, threshold, n_centroids, id_col, vec_col
        )
    # Pure-expression formulation (the oracle-parity twin): candidate
    # pairs via the shared bucket-grouping shape, HOF cosine verify.
    # keep_buckets carries each pair's cluster out of the candidate
    # stage, so the assignment pipeline is evaluated ONCE — the vector
    # sides join back to the raw table, not to `assigned` (joining
    # `assigned` twice more would re-run the whole assignment subtree
    # per side: measured 3x wall time at sf0.1).
    from .dedup import pairs_within_buckets

    assigned = assign_ivf_clusters(emb, n_centroids, id_col, vec_col)
    cands = pairs_within_buckets(
        assigned.select(id_col, "cluster"), ["cluster"], id_col,
        keep_buckets=True,
    )
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            "cluster",
            F.round(cosine_similarity(F.col("_va"), F.col("_vb")), 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _semantic_pairs_grouped_blas(
    emb: DataFrame,
    threshold: float,
    n_centroids: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The throughput formulation of ``semantic_dedup_pairs`` — the
    shape SemDeDup actually runs at scale: ONE shuffle groups each
    cluster's (id, vector) rows, then a per-cluster (C, dim) x (dim, C)
    BLAS matmul scores all in-cluster pairs at once and emits only the
    qualifying ones. No pair set is ever materialized or joined — the
    three prior shuffles of the 5M-row candidate set (explode,
    distinct, 2 joins) and the interpreted HOF verify (measured 159 s
    of a 171 s run at 20k vectors) collapse into the group agg.

    Boundary parity with the expression twin: the matmul emits RAW
    cosines for every pair within half a rounding step of the
    threshold; the Spark-side ``round(_, 4) >= threshold`` filter then
    applies the identical decision rule, so the emitted set is exactly
    the expression path's (pytest-asserted). Clusters above MAX_BUCKET
    drop as degenerate, same as the bucket-grouping guard.
    """
    import numpy as np
    import pandas as pd

    from .dedup import MAX_BUCKET

    assigned = assign_ivf_clusters_arrow(emb, n_centroids, id_col, vec_col)
    # raw >= threshold - (5e-5 + eps): anything below cannot round up
    # to the 4-decimal threshold; the exact rounded filter runs in
    # Spark afterwards so the decision is bit-identical to the twin
    cutoff = threshold - 5.0001e-5

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2 or len(pdf) > MAX_BUCKET:
            return pd.DataFrame(
                {"id_a": [], "id_b": [], "cluster": [], "_raw": []}
            ).astype({"id_a": "int64", "id_b": "int64", "cluster": "int64",
                      "_raw": "float64"})
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        sims = (m / norms) @ (m / norms).T
        ia, ib = np.triu_indices(len(ids), k=1)
        keep = sims[ia, ib] >= cutoff
        return pd.DataFrame(
            {
                "id_a": ids[ia[keep]],
                "id_b": ids[ib[keep]],
                "cluster": np.full(int(keep.sum()), int(pdf["cluster"].iloc[0])),
                "_raw": sims[ia[keep], ib[keep]],
            }
        )

    out = assigned.groupBy("cluster").applyInPandas(
        per_cluster, "id_a long, id_b long, cluster long, _raw double"
    )
    return out.select(
        "id_a", "id_b", "cluster", F.round(F.col("_raw"), 4).alias("cosine")
    ).filter(F.col("cosine") >= threshold)


def kmeans_ivf_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN with TRAINED centroids (Spark ML KMeans) — the
    production upgrade of ``ivf_topk``'s first-N-vectors stand-in.

    Train k-means on the corpus (one ML job, amortized across queries
    at scale), broadcast the centers, probe the ``n_probe`` clusters
    nearest the query, exact cosine re-rank inside — via the shared
    ``_probe_and_rerank`` plumbing. The probe ranks clusters by
    EUCLIDEAN distance to the trained centers, matching the metric
    KMeans assigned vectors with (centroids are means of unit vectors
    — not unit-norm — so a cosine probe would rank clusters
    differently from the assignment and lose recall).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = fan_out(emb).select(
        F.col(id_col), F.col(vec_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("_features"),
    )
    model = KMeans(
        k=n_centroids, seed=42, featuresCol="_features", predictionCol="cluster"
    ).fit(feats)
    assigned = model.transform(feats).select(id_col, vec_col, "cluster")

    centers = emb.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "centroid_id int, centroid_vec array<double>",
    )
    q = emb.filter(F.col(id_col) == query_vec_id).select(F.col(vec_col).alias("_qv"))
    return _probe_and_rerank(
        assigned, centers, q, k, n_probe, id_col, vec_col, query_vec_id, "euclidean"
    )


# Above this many literal doubles the centroid pack stops being inlined
# as expression text (parser cost grows with the literal) and ships as a
# broadcast instead. C x dim is bounded by the training caps everywhere
# in this repo (8x64, 32x16), far below the cutover.
_CENT_LITERAL_MAX_DOUBLES = 200_000


def _cents_array_literal(rows) -> "F.Column":
    """Collected (cid, cv) centroid rows as ONE parsed array literal of
    named_structs, sorted by cid — byte-identical to the agg
    ``sort_array(collect_list(struct(cid, cv)))`` pack (cids are unique
    so the struct sort IS the cid sort). Doubles round-trip through
    ``double_sql_literal`` (shortest repr re-parses to the identical
    double; non-finite values take the CAST form so a NaN-poisoned
    centroid mean stays NaN-propagating instead of failing to parse).
    The payoff is plan shape: the assignment becomes a NARROW
    projection — no crossJoin, no BroadcastExchange, no
    broadcast-build job."""
    parts = []
    for row in sorted(rows, key=lambda r: int(r["cid"])):
        cv = ", ".join(double_sql_literal(x) for x in row["cv"])
        parts.append(
            f"named_struct('cid', CAST({int(row['cid'])} AS INT), "
            f"'cv', array({cv}))"
        )
    return F.expr("array(" + ", ".join(parts) + ")")


def assign_to_centroid_rows(
    emb: DataFrame,
    cent_rows,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment against ALREADY-COLLECTED (cid, cv)
    rows: the centroid pack is a driver-built array literal, so the
    whole assignment is one narrow projection (scan -> argmin) — zero
    joins, zero exchanges, zero broadcast jobs. Tie-break: lowest
    distance, then lowest centroid id. Returns (id, vec, cluster)."""
    if not cent_rows:
        # argmax over an empty pack is NULL — same as the broadcast form
        return fan_out(emb).select(
            F.col(id_col),
            F.col(vec_col),
            F.lit(None).cast("int").alias("cluster"),
        )
    scored = F.transform(
        _cents_array_literal(cent_rows),
        lambda c: F.struct(
            (-dist2_raw(F.col("_v"), c["cv"])).alias("s"),
            (-c["cid"]).alias("t"),
            c["cid"].alias("cid"),
        ),
    )
    return (
        fan_out(emb)
        .withColumn("_v", F.col(vec_col).cast("array<double>"))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.array_max(scored)["cid"].alias("cluster"),
        )
    )


def assign_to_centroids_euclidean(
    emb: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment by squared L2 against an arbitrary
    (cid, cv) centroid frame. The centroid table is bounded by
    construction (the training caps), so it is collected once and
    inlined as an array literal — the assignment plan is then a NARROW
    projection with no crossJoin/broadcast (one job fewer per call; a
    LocalRelation input collects driver-side with no job at all). A
    pack larger than the literal cutover ships as the classic
    one-row broadcast instead. Tie-break: lowest distance, then lowest
    centroid id (negated id in the struct comparison). Returns
    (id, vec, cluster).

    The collect is LIMIT-bounded to the cutover: each centroid carries
    >= 1 double, so more than ``_CENT_LITERAL_MAX_DOUBLES`` rows can
    never take the literal path — the driver never holds more than the
    cutover's worth of rows even when the frame is huge (the fallback
    that exists to protect the driver must not itself collect the full
    frame, r11 ADVICE)."""
    rows = (
        cents.select(F.col("cid"), F.col("cv").cast("array<double>").alias("cv"))
        .limit(_CENT_LITERAL_MAX_DOUBLES + 1)
        .collect()
    )
    if (
        rows
        and len(rows) <= _CENT_LITERAL_MAX_DOUBLES
        and len(rows) * len(rows[0]["cv"]) <= _CENT_LITERAL_MAX_DOUBLES
    ):
        return assign_to_centroid_rows(emb, rows, id_col, vec_col)
    cent_row = cents.agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("cid"), F.col("cv").cast("array<double>").alias("cv"))
            )
        ).alias("_cents")
    )
    # the row vector's cast hoists to a materialized column: a captured
    # _euclidean_dist2(F.col(vec_col), ...) would re-cast the vector
    # once per centroid (the zipped_ngrams HOF trap); bare attribute
    # captures are free
    scored = F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            (-dist2_raw(F.col("_v"), c["cv"])).alias("s"),
            (-c["cid"]).alias("t"),
            c["cid"].alias("cid"),
        ),
    )
    return (
        fan_out(emb)
        .withColumn("_v", F.col(vec_col).cast("array<double>"))
        .crossJoin(F.broadcast(cent_row))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.array_max(scored)["cid"].alias("cluster"),
        )
    )


def lloyd_kmeans_centroids(
    emb: DataFrame,
    n_centroids: int = 8,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Deterministic DataFrame-native Lloyd's k-means: init = the first
    ``n_centroids`` vectors by id, then ``n_iters`` rounds of
    (Euclidean argmin assignment -> per-dimension mean update). Returns
    the trained (cid, cv) centroid frame.

    Fully declarative and reproducible — no driver RNG, no sampling, no
    ML-library dependency — so the whole training loop is expressible as
    unrolled SQL and the IVF query built on it gets an exact DuckDB
    oracle (the r3 verdict's ask for ``ann_kmeans_ivf_topk``). Each
    round's centroid dimensions are rounded via the decimal route
    (plans/base.py parity rule) so the centroid table is bit-identical
    across engines regardless of each engine's partial-aggregation
    summation order.

    Scale shape: assignment is the narrow broadcast argmin (zero
    shuffle); the update is ONE groupBy(cluster) with a per-dimension
    AVG column each (``dim`` is a static property of the embedding
    space, so the posexplode → (cluster, dim) → repack double-exchange
    formulation is unnecessary) — map-side partials reduce every
    partition to <= C rows × dim columns before the exchange, the same
    bytes as the exploded form in half the exchanges. The driver never
    touches vectors; clusters that lose all members simply drop out
    (same semantics both engines)."""
    if dim is None:
        first = emb.select(vec_col).head()
        if first is None:
            return emb.sparkSession.createDataFrame(
                [], "cid int, cv array<double>"
            )
        dim = len(first[0])
    # init = the first-N vectors, collected once: every round then runs
    # as ONE aggregate job over a narrow literal-pack assignment (no
    # crossJoin, no broadcast-build job, no checkpoint job per round)
    rows = (
        emb.filter(F.col(id_col) < n_centroids)
        .select(
            F.col(id_col).cast("int").alias("cid"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        )
        .collect()
    )
    # SQL-text expressions (one parse each), not nested Column calls:
    # dim × (avg, round, cast, alias) via py4j is hundreds of driver
    # round-trips per round (the simhash/sign-matrix lesson)
    avg_exprs = [
        F.expr(
            f"CAST(ROUND(CAST(AVG(_v[{i}]) AS DECIMAL(38,9)), "
            f"{round_digits}) AS DOUBLE) AS _m{i}"
        )
        for i in range(dim)
    ]
    repack = F.expr("array(" + ",".join(f"_m{i}" for i in range(dim)) + ")")
    for _ in range(n_iters):
        assigned = assign_to_centroid_rows(emb, rows, id_col, vec_col)
        # each round's collect IS the lineage truncation (the
        # connected_components convention, degenerated to C bounded
        # rows of driver data): round N+1's plan — and every
        # downstream consumer — starts from literal centroids, never
        # re-running the training prefix. Values are identical; this
        # is purely a plan/job-shape fix.
        rows = (
            assigned.select(
                "cluster", F.col(vec_col).cast("array<double>").alias("_v")
            )
            .groupBy("cluster")
            .agg(*avg_exprs)
            .select(F.col("cluster").alias("cid"), repack.alias("cv"))
            .collect()
        )
    return centroid_local_relation(emb.sparkSession, rows)


def centroid_local_relation(spark, rows) -> DataFrame:
    """(cid, cv) centroid rows rebuilt as a true LocalRelation via an
    inline VALUES table. Doubles round-trip through ``repr`` (shortest
    repr re-parses to the identical double), so values are bit-exact;
    the payoff is plan shape: a BroadcastExchange over a LocalRelation
    collects driver-side without launching a job, where a
    LogicalRDD/checkpoint child costs one job per broadcast consumer.
    Bounded driver data by construction (C centroid rows)."""
    if not rows:
        return spark.createDataFrame([], "cid int, cv array<double>")
    vals = ", ".join(
        "(CAST(%d AS INT), array(%s))"
        % (int(row["cid"]), ", ".join(double_sql_literal(x) for x in row["cv"]))
        for row in rows
    )
    return spark.sql(f"SELECT * FROM VALUES {vals} AS t(cid, cv)")


def lloyd_ivf_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 3,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN over ``lloyd_kmeans_centroids`` — trained-centroid IVF
    with an exact SQL twin. Probe and final assignment both use
    Euclidean distance (centroids are means, not unit vectors — a
    cosine probe would rank clusters differently from the assignment
    and lose recall)."""
    cents = lloyd_kmeans_centroids(emb, n_centroids, n_iters, id_col, vec_col)
    assigned = assign_to_centroids_euclidean(emb, cents, id_col, vec_col)
    centers = cents.select(
        F.col("cid").alias("centroid_id"), F.col("cv").alias("centroid_vec")
    )
    q = emb.filter(F.col(id_col) == query_vec_id).select(F.col(vec_col).alias("_qv"))
    return _probe_and_rerank(
        assigned, centers, q, k, n_probe, id_col, vec_col, query_vec_id, "euclidean"
    )


# --- per-dimension feature standardization ------------------------------------


def gram_moments(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Aggregated second-moment grid of a vector column — the input
    every distributed covariance/PCA/whitening computation needs.

    Each partition computes its Gram partial with ONE numpy matmul
    (``X.T @ X`` per Arrow batch — never a per-element HOF or a dim²
    row explode), so the shuffle carries only dim²-bounded partial
    rows. Returns the upper triangle as (i, j, sxy, n) plus the
    per-dimension linear sums as ``j = -1`` marker rows (means ride
    the same pass — one shuffle for both moments).
    """
    import numpy as np
    import pandas as pd

    def gram(batches):
        S = None
        s = None
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if S is None:
                d = X.shape[1]
                S = np.zeros((d, d))
                s = np.zeros(d)
            S += X.T @ X
            s += X.sum(axis=0)
            n += X.shape[0]
        if n:
            d = len(s)
            ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
            keep = ii <= jj  # symmetric: ship the upper triangle only
            yield pd.DataFrame(
                {
                    "i": np.concatenate([ii[keep], np.arange(d)]),
                    "j": np.concatenate([jj[keep], np.full(d, -1)]),
                    "sxy": np.concatenate([S[keep], s]),
                    "n": np.int64(n),
                }
            )

    return (
        fan_out(emb.select(vec_col))
        .mapInPandas(gram, "i int, j int, sxy double, n long")
        .groupBy("i", "j")
        .agg(F.sum("sxy").alias("sxy"), F.sum("n").alias("n"))
    )


def pca_components(
    emb: DataFrame, k: int = 4, vec_col: str = "embedding"
) -> tuple:
    """Exact PCA basis from the distributed Gram grid: the cluster
    computes ``gram_moments`` (one matmul per Arrow batch, dim²-bounded
    shuffle), the DRIVER collects only the ≤ dim²/2+dim aggregated
    cells and eigendecomposes the dim×dim covariance — O(dim³) driver
    work, O(1) in corpus size (the same bounded-training pattern as the
    PQ codebooks and Lloyd centroids).

    Returns ``(W, evals, mean, n)``: the (dim, k) projection matrix
    (descending eigenvalue order, sign-normalized so each component's
    largest-|loading| entry is positive — eigh's sign is otherwise
    arbitrary), the full descending eigenvalue vector, the column
    means, and the row count. The covariance is rounded to 9 decimals
    before eigh so the basis is reproducible across summation orders.
    """
    import numpy as np

    rows = gram_moments(emb, vec_col).collect()
    d = max(r0["i"] for r0 in rows) + 1
    S = np.zeros((d, d))
    s = np.zeros(d)
    n = 0
    for r0 in rows:
        if r0["j"] == -1:
            s[r0["i"]] = r0["sxy"]
            n = r0["n"]
        else:
            S[r0["i"], r0["j"]] = r0["sxy"]
            S[r0["j"], r0["i"]] = r0["sxy"]
    mean = s / n
    cov = np.round((S - np.outer(s, s) / n) / (n - 1), 9)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1]
    evals = evals[order]
    evecs = evecs[:, order]
    W = evecs[:, :k]
    flip = np.sign(W[np.abs(W).argmax(axis=0), np.arange(k)])
    flip[flip == 0] = 1.0
    return W * flip, evals, mean, n


def pca_project(
    emb: DataFrame,
    k: int = 4,
    vec_col: str = "embedding",
    id_cols: tuple = ("vec_id",),
) -> DataFrame:
    """Project every vector onto the top-``k`` principal components —
    centered ``(X - mean) @ W`` as ONE numpy matmul per Arrow batch
    (mapInPandas; the (dim, k) basis ships in the closure). No shuffle:
    the projection is a narrow map over the scan.
    """
    import numpy as np
    import pandas as pd

    W, _evals, mean, _n = pca_components(emb, k, vec_col)

    def project(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            P = (X - mean) @ W
            out = {c: pdf[c] for c in id_cols}
            for j in range(W.shape[1]):
                out[f"pc{j + 1}"] = P[:, j]
            yield pd.DataFrame(out)

    id_schema = ", ".join(
        f"{c} {dict(emb.dtypes)[c]}" for c in id_cols
    )
    pc_schema = ", ".join(f"pc{j + 1} double" for j in range(k))
    return emb.select(*id_cols, vec_col).mapInPandas(
        project, f"{id_schema}, {pc_schema}"
    )


def embedding_dim_stats(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension mean / population stddev / count over an
    ``array<float>`` column: posexplode -> one map-side-partialed hash
    agg keyed on the dimension index. The shuffle carries (dim,
    partials) — at most vector-width rows per map task — so this is a
    constant-size exchange at any corpus size.
    """
    return (
        emb.select(F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "val"))
        .groupBy("dim")
        .agg(
            F.avg("val").alias("mean"),
            F.stddev_pop("val").alias("std"),
            F.count("val").cast("long").alias("n"),
        )
    )


def standardize_vectors(
    emb: DataFrame, stats: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Apply per-dim z-scoring as a NARROW transform: the stats table
    is vector-width rows (bounded by the embedding dimension, not the
    corpus), so it is collected to the driver and folded into a single
    ``transform`` expression — no explode, no join, no shuffle touches
    the vector table; the whole application stays in one codegen'd
    projection. Constant-std dimensions z-score to NULL (no signal)
    rather than dividing by zero.
    """
    rows = sorted((r["dim"], r["mean"], r["std"]) for r in stats.collect())
    means = F.array(*[F.lit(m) for _, m, _ in rows])
    stds = F.array(*[F.lit(s) for _, _, s in rows])
    z = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x, i: (x - F.element_at(means, i + 1))
        / F.nullif(F.element_at(stds, i + 1), F.lit(0.0)),
    )
    return emb.withColumn("z_vec", z)


def mmr_rerank(
    pool: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    mu: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "v",
    rel_col: str = "rel",
) -> list[tuple[int, int, float, float]]:
    """Maximal-marginal-relevance re-ranking of a BOUNDED candidate
    pool: greedily pick the item maximizing ``lam * relevance - mu *
    max_similarity_to_already_selected`` (ties to the lowest id). The
    standard diversity re-rank between retrieval and the LLM context
    window.

    MMR is inherently sequential in ``k``, so this runs driver-side
    over the ONE collected LIMIT-bounded pool (top-N by relevance
    upstream — bounded driver data by construction, the same class as
    the per-round 1-row collects this replaced).

    Every per-pair similarity and every MMR score is rounded via the
    decimal route (plans/base.py) BEFORE the argmax, so the greedy
    trajectory — not just the final scores — is reproducible
    bit-for-bit by the unrolled SQL twin (plans/vectorq.py).

    ``lam`` and ``mu`` are separate literals (not ``1 - lam``): the
    twin writes the same decimal text, and ``1 - 0.7`` differs from
    ``0.3`` in the last ulp.

    The pool is collected ONCE (it is LIMIT-bounded — k·pool rows of
    driver data, the same bounded class as the per-round 1-row collects
    this replaces) and the greedy loop runs in Python with the
    bit-identical arithmetic: the sequential-fold cosine mirrors
    ``cosine_similarity``'s aggregate order op for op, and every
    rounding goes through the same double → DECIMAL(38,9) → round(4)
    route (``_r4_py``). The pre-r11 formulation ran one Spark job per
    selection step (plus an eager localCheckpoint) and rebuilt a
    dim-length ``F.lit`` array per selected vector per round — ~14
    driver↔JVM jobs and thousands of py4j round-trips to re-rank 20
    rows.

    Returns plain rows ``(rank, id, rel, mmr)`` — bounded driver data.
    """
    import math

    pool_rows = pool.select(id_col, vec_col, rel_col).collect()
    cands = [
        (row[id_col], [float(x) for x in row[vec_col]], row[rel_col])
        for row in pool_rows
    ]

    def _cos(a: list[float], b: list[float]) -> float | None:
        # sequential left folds, same op order as functions/vectors.py
        # dot/l2_norm (zip_with + aggregate): bit-identical doubles
        dot = 0.0
        for x, y in zip(a, b):
            dot = dot + x * y
        na = 0.0
        for x in a:
            na = na + x * x
        nb = 0.0
        for y in b:
            nb = nb + y * y
        denom = math.sqrt(na) * math.sqrt(nb)
        return dot / denom if denom > 0 else None

    selected: list[tuple] = []  # (id, vector)
    out: list[tuple[int, int, float, float]] = []
    for step in range(1, k + 1):
        remaining = [
            c for c in cands if all(c[0] != sid for sid, _ in selected)
        ]
        if not remaining:  # pool exhausted before k picks
            break
        scored = []
        for vid, vec, rel in remaining:
            if selected:
                sims = [_r4_py(_cos(vec, svec)) for _, svec in selected]
                nonnull = [s for s in sims if s is not None]
                # F.greatest semantics: max of the non-null sims,
                # null when every sim is null
                msim = max(nonnull) if nonnull else None
                mmr = (
                    _r4_py(lam * rel - mu * msim)
                    if rel is not None and msim is not None
                    else None
                )
            else:
                mmr = _r4_py(lam * rel) if rel is not None else None
            scored.append((mmr, vid, rel))
        # orderBy(mmr DESC NULLS LAST, id ASC) . limit(1)
        mmr_v, vid, rel = min(
            scored,
            key=lambda t: (t[0] is None, -t[0] if t[0] is not None else 0.0, t[1]),
        )
        vec = next(v for i, v, _ in remaining if i == vid)
        selected.append((vid, vec))
        out.append((step, vid, rel, mmr_v))
    return out


def _r4_py(x: float | None) -> float | None:
    """Driver-side mirror of plans/base.py::r(col, 4): double →
    DECIMAL(38,9) (half away from zero) → ROUND(.., 4) (half away from
    zero) → double; None propagates like SQL null. ``Decimal(float)``
    is the exact binary value, so this reproduces both engines' decimal
    route bit-for-bit (the plans/textq.py::_r6_py convention).

    Non-finite inputs return None because Spark's CAST(double AS
    DECIMAL) nulls NaN/±Infinity (measured on this session config) —
    so a NaN cosine is NULL after the decimal route on BOTH sides and
    ``F.greatest``/``max(nonnull)`` never see it; without this the
    Python mirror raised InvalidOperation where Spark yielded NULL
    (r11 ADVICE: NaN ordering divergence)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    if x is None or not math.isfinite(x):
        return None
    d = Decimal(x).quantize(Decimal("1e-9"), rounding=ROUND_HALF_UP)
    return float(d.quantize(Decimal("1e-4"), rounding=ROUND_HALF_UP))
