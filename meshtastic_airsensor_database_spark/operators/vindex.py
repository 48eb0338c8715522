"""Persisted IVF vector index: build once, query many.

The ann_* queries train + assign per query — right for a one-shot
analytical run, wrong for a serving/repeated-retrieval workload where
training and assignment must amortize. This module persists the index
as two parquet tables:

- ``<path>/centroids`` — the trained Lloyd's centroids (C rows);
- ``<path>/vectors`` — every vector PARTITIONED BY its assigned
  cluster on disk.

Partitioning by cluster IS the inverted list: a probe of ``n_probe``
clusters compiles to a partition-pruned scan that lists and reads only
those clusters' files — at 100 TB, probing 3 of 1024 clusters touches
~0.3% of the data, enforced by the layout rather than a filter the
executor applies after reading. ``extend_ivf_index`` appends new
vectors assigned against the FROZEN centroids (the standard IVF
regime: retrain only when drift warrants a rebuild), so continuous
ingestion never rewrites existing partitions.

No counterpart in the reference (its similarity surface is this
engine's extension mandate); the probe/re-rank semantics match
operators/similarity.py::lloyd_ivf_topk, pinned by tests.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity
from ..io_utils import BUILD_SWAP, begin_staged_build, publish_swap, recover_swap
from .similarity import (
    assign_to_centroids_euclidean,
    lloyd_kmeans_centroids,
)


def _check_meta(path: str, dim: int | None) -> dict:
    """Refuse silent corruption (the decon_index discipline, r11): a
    dim mismatch makes the zip_with-based distance/cosine TRUNCATE
    against the shorter array — plausible-looking garbage, no error.
    Returns the stamp for callers that validate more."""
    meta_path = os.path.join(path, "_meta.json")
    if not os.path.exists(meta_path):
        raise ValueError(
            f"IVF index at {path} has no _meta.json stamp — refusing to "
            "extend/search an index whose vector dim cannot be validated "
            "(build_ivf_index writes the stamp since r11; a pre-r11 "
            "index needs one rebuild)"
        )
    meta = json.load(open(meta_path))
    if dim is not None and dim != meta["dim"]:
        raise ValueError(
            f"IVF index at {path} holds dim={meta['dim']} vectors, but "
            f"this call supplies dim={dim} — zip_with would silently "
            "truncate; wrong index or wrong embedding column"
        )
    return meta


def build_ivf_index(
    emb: DataFrame,
    path: str,
    n_centroids: int = 8,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Train deterministic Lloyd's centroids, assign every vector, and
    persist both tables plus a ``_meta.json`` stamp (dim, n_centroids —
    extend/search validate against it). The vectors write is one
    shuffle on the cluster key (the partitionBy); centroids are C rows.

    The whole build lands in a STAGED directory and swaps in with two
    renames (io_utils.begin_staged_build/publish_swap): two in-place
    overwrites would leave a crash window where NEW centroids prune OLD
    assignments — probes read the wrong clusters, silently. Any crash
    state converges at the next build/extend entry."""
    first = emb.select(vec_col).head()
    if first is None:
        raise ValueError("cannot build an IVF index from an empty corpus")
    dim = len(first[0])
    staging = begin_staged_build(path)
    with open(os.path.join(staging, "_meta.json"), "w") as f:
        json.dump({"dim": dim, "n_centroids": n_centroids}, f)
    cents = lloyd_kmeans_centroids(
        emb, n_centroids, n_iters, id_col, vec_col, dim=dim
    )
    cents.write.parquet(os.path.join(staging, "centroids"))
    # assignment uses the in-memory LocalRelation centroids, which are
    # BIT-IDENTICAL to what a later extend reads back: parquet stores
    # int32/float64 exactly, so the round-trip is value-preserving and
    # the old re-read-then-collect cost one job per build for the same
    # rows (r12; the extend/search paths still read the parquet, which
    # is what pins the round-trip in tests)
    assigned = assign_to_centroids_euclidean(emb, cents, id_col, vec_col)
    # rebalance before the partitioned write: without it every upstream
    # task writes a file into every cluster partition it touches (tasks
    # × clusters tiny files — paid again by every probe's listing).
    # AQE sizes the rebalanced partitions by advisoryPartitionSizeInBytes,
    # so locally this lands ~one file per cluster and at 100 TB it lands
    # target-sized files — scale-adaptive, not a local[32] constant.
    assigned.hint("rebalance", "cluster").write.partitionBy("cluster").parquet(
        os.path.join(staging, "vectors")
    )
    publish_swap(path, *BUILD_SWAP)


def extend_ivf_index(
    new_emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Assign a new batch against the FROZEN centroids and append.
    Existing cluster partitions are never rewritten — dynamic append
    only adds files to the partitions the batch lands in. Empty batches
    are a no-op; the batch's dim is validated against the build stamp
    (a mismatch would assign via silently-truncated distances). The
    append is ONE write (all-or-nothing at job commit), so there is no
    multi-table crash window here."""
    # one head() doubles as the emptiness probe AND the dim sample —
    # the separate isEmpty() was a second job for the same answer
    first = new_emb.select(vec_col).head()
    if first is None:
        return
    recover_swap(path, *BUILD_SWAP)
    _check_meta(path, len(first[0]))
    spark = new_emb.sparkSession
    cents = spark.read.parquet(os.path.join(path, "centroids"))
    assigned = assign_to_centroids_euclidean(new_emb, cents, id_col, vec_col)
    # same rebalance-before-partitioned-write rationale as the build
    assigned.hint("rebalance", "cluster").write.mode("append").partitionBy(
        "cluster"
    ).parquet(os.path.join(path, "vectors"))


def search_ivf_index(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """Probe the persisted index: rank clusters by squared-L2 of their
    centroid to the query (C rows — a bounded driver computation, the
    same class as the ANN training caps), then exact-cosine re-rank
    ONLY the probed clusters. The cluster membership test is a
    partition filter, so unprobed clusters are pruned at file-listing
    time (asserted in tests via the input-file set). The query vector's
    dim is validated against the build stamp (a mismatch would rank by
    silently-truncated distances)."""
    _check_meta(path, len(query_vec))
    cent_rows = spark.read.parquet(os.path.join(path, "centroids")).collect()
    q = [float(x) for x in query_vec]

    def d2(cv) -> float:
        return sum((float(a) - b) * (float(a) - b) for a, b in zip(cv, q))

    probed = [
        int(r["cid"])
        for r in sorted(cent_rows, key=lambda r: (d2(r["cv"]), int(r["cid"])))
    ][:n_probe]

    vectors = spark.read.parquet(os.path.join(path, "vectors"))
    qcol = F.array(*[F.lit(x) for x in q]).cast("array<double>")
    out = vectors.filter(F.col("cluster").isin(probed))
    if exclude_id is not None:
        out = out.filter(F.col(id_col) != exclude_id)
    return (
        out.select(
            F.col(id_col),
            F.col("cluster"),
            F.round(
                cosine_similarity(F.col(vec_col), qcol).cast("decimal(38,9)"), 4
            )
            .cast("double")
            .alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )
