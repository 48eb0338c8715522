"""Embedding similarity / multimodal / sketch queries
(SURVEY.md §2.11 similarity_search_topk, near_dedup, multimodal_columns,
approx_distinct_nodes).

Oracle-checkable queries compute in double precision with sequential
reduction order on both engines (Spark ``aggregate`` over the array ==
DuckDB ``list_dot_product``), rounded to 4 decimals. Sketch-based
operators (MinHash-LSH, SimHash, IVF, HLL) have no SQL twin by nature
— they get rows-only checks, and their candidate sets are verified
against the exact queries in tests/.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import (
    HPLSH_SALT,
    cosine_similarity,
    dist2_raw,
    dot_raw,
    double_sql_literal,
    l2_norm,
    sign_band_rows,
)
from ..io_utils import ephemeral_dir, fan_out, load, materialize
from ..operators.dedup import (
    MAX_BUCKET,
    MH_CAND_BANDS,
    MHJ_PERMS,
    MHJ_SALTS,
    md5_minhash_sketch as _md5_minhash_sketch,
)
from ..operators.similarity import (
    embedding_dim_stats,
    gram_moments,
    ivf_topk,
    lloyd_ivf_topk,
    pca_project,
    standardize_vectors,
)
from .base import Query, r

QUERY_VEC_ID = 0
TOP_K = 10


# --- embedding norms (basic vector-math parity) -------------------------------

def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", "label", r(l2_norm(F.col("embedding")), 4).alias("l2_norm")
    )


EMBEDDING_NORMS_SQL = """
SELECT vec_id, label,
       CAST(ROUND(CAST(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS DECIMAL(38,9)), 4) AS DOUBLE) AS l2_norm
FROM embeddings
"""


# --- brute-force cosine top-k (SURVEY §2.11 similarity_search_topk) -----------

def embedding_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 nearest neighbors of vec_id=0 by cosine, brute force.

    The baseline ANN path: one scan, cosine in codegen'd built-ins
    (zip_with + aggregate), TakeOrderedAndProject for the top-k — no
    shuffle of the full table. The query vector is broadcast via a
    cross join with a 1-row DataFrame (literal at planning time would
    also work; this formulation scales to query BATCHES)."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q_embedding")
    )
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            r(cosine_similarity(F.col("embedding"), F.col("q_embedding")), 4).alias(
                "cosine"
            ),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


EMBEDDING_TOPK_COSINE_SQL = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
SELECT vec_id, label,
       CAST(ROUND(CAST(list_dot_product(embedding::DOUBLE[], qv)
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product(qv, qv))) AS DECIMAL(38,9)), 4) AS DOUBLE) AS cosine
FROM embeddings, q
WHERE vec_id != {QUERY_VEC_ID}
ORDER BY cosine DESC, vec_id
LIMIT {TOP_K}
"""


# --- batch multi-query top-k (similarity_search_topk, retrieval shape) --------

# Retrieval pipelines rank against BATCHES of query vectors, not one.
# All queries are packed into a single broadcast array row (same shape
# as the IVF centroid pack); scoring explodes to n x Q rows, and the
# top-k per query is computed in TWO aggregate stages: per-(query,
# input-partition) partial top-k (each task's buffer holds at most its
# own partition's rows — the mapPartitions top-k shape, no global
# window), then a final merge over Q x n_shards x k rows. A
# Window.partitionBy(query) row_number here would shuffle the full
# n x Q scored set; this shuffles only the k-row partials.
QUERY_BATCH_IDS = (0, 1, 2, 3)
BATCH_K = 5


def _batch_scores_expr(emb: DataFrame) -> DataFrame:
    """(query_id, vec_id, cosine) via the pure-expression path: queries
    packed into one broadcast row, per-row explode + HOF cosine. Kept
    as the reference tests compare ``_batch_scores_arrow`` (the path
    ``embedding_batch_topk`` runs) against.

    Both norms are hoisted OUT of the per-query lambda: the row
    vector's norm becomes a materialized column (a captured
    cosine_similarity would recompute sqrt(dot(v,v)) once per query —
    the functions/text.py::zipped_ngrams trap) and each query's norm is
    precomputed into the broadcast pack (otherwise it re-evaluates per
    ROW per query). Same arithmetic shape as cosine_similarity —
    dot / (|a| * |b|), null on zero denom — so the rounded values are
    bit-identical to the oracle."""
    qpack = (
        emb.filter(F.col("vec_id").isin(*QUERY_BATCH_IDS))
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("qv"),
            l2_norm(F.col("embedding")).alias("qn"),
        )
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("vec_id").alias("qid"), "qv", "qn"
                    )
                )
            ).alias("_qs")
        )
    )
    return (
        fan_out(emb)
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("_v"),
            l2_norm(F.col("embedding")).alias("_n"),
        )
        .crossJoin(F.broadcast(qpack))
        .select(
            "vec_id",
            F.explode(
                F.transform(
                    "_qs",
                    lambda q: F.struct(
                        q["qid"].alias("qid"),
                        r(
                            F.when(
                                F.col("_n") * q["qn"] > 0,
                                dot_raw(F.col("_v"), q["qv"]) / (F.col("_n") * q["qn"]),
                            ),
                            4,
                        ).alias("cosine"),
                    ),
                )
            ).alias("s"),
        )
        .select(
            F.col("s.qid").alias("query_id"), "vec_id", F.col("s.cosine").alias("cosine")
        )
        .filter(F.col("vec_id") != F.col("query_id"))
    )


def _batch_scores_arrow(emb: DataFrame, passthrough: tuple[str, ...] = ()) -> DataFrame:
    """Arrow/BLAS twin of ``_batch_scores_expr``: the query matrix ships
    in the mapInPandas closure (Q x dim — driver-collected, Q is small
    by definition) and each batch scores as one (B, dim) @ (dim, Q)
    matmul; the decimal-routed rounding stays a Spark expression so the
    rounded value is the same one the expression path and the oracle
    produce. Same n x Q output, no shuffle — at bulk scale this is the
    10x+ path for the same reason as assign_ivf_clusters_arrow (HOF
    cosine evaluates interpreted per element)."""
    import numpy as np
    import pandas as pd

    q_rows = (
        emb.filter(F.col("vec_id").isin(*QUERY_BATCH_IDS))
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    qids = np.array([row["vec_id"] for row in q_rows], dtype=np.int64)
    qmat = np.stack([np.asarray(row["embedding"], dtype=np.float64) for row in q_rows])
    qnorm = np.linalg.norm(qmat, axis=1, keepdims=True)
    qnorm[qnorm == 0] = 1.0
    qmat_t = (qmat / qnorm).T
    n_q = len(qids)

    def op(batches):
        for pdf in batches:
            m = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["embedding"]])
            mn = np.linalg.norm(m, axis=1, keepdims=True)
            mn[mn == 0] = 1.0
            sims = (m / mn) @ qmat_t  # (B, Q)
            out = {
                "query_id": np.tile(qids, len(pdf)),
                "vec_id": np.repeat(pdf["vec_id"].to_numpy(), n_q),
                "_raw": sims.ravel(),
            }
            for c in passthrough:
                out[c] = np.repeat(pdf[c].to_numpy(), n_q)
            yield pd.DataFrame(out)

    extra_schema = "".join(
        f", {c} {dict(emb.dtypes)[c]}" for c in passthrough
    )
    raw = fan_out(emb).select("vec_id", "embedding", *passthrough).mapInPandas(
        op, f"query_id long, vec_id long, _raw double{extra_schema}"
    )
    return (
        raw.filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", "vec_id", r(F.col("_raw"), 4).alias("cosine"), *passthrough
        )
    )


def _partial_topk_merge(
    scored: DataFrame, k: int, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Per-query top-k WITHOUT a Window over the full n x Q scored set:
    map-side partial top-k per (shard, query), then a k·shards-row
    merge — the exact two-phase shape of a distributed top-k.
    ``extra_cols`` ride inside the sort struct (after the tie-break
    key, so they never affect the ordering)."""
    # ascending struct sort == (cosine desc, vec_id asc)
    entry = F.struct(
        (-F.col("cosine")).alias("nc"),
        F.col("vec_id").alias("vid"),
        *[F.col(c).alias(c) for c in extra_cols],
    )
    partial = scored.groupBy(
        F.spark_partition_id().alias("_shard"), "query_id"
    ).agg(F.slice(F.array_sort(F.collect_list(entry)), 1, k).alias("top"))
    merged = (
        partial.select("query_id", F.explode("top").alias("t"))
        .groupBy("query_id")
        .agg(F.slice(F.array_sort(F.collect_list("t")), 1, k).alias("top"))
    )
    return merged.select(
        "query_id", F.posexplode("top").alias("pos", "t")
    ).select(
        "query_id",
        (F.col("pos") + 1).alias("rnk"),
        F.col("t.vid").alias("vec_id"),
        (-F.col("t.nc")).alias("cosine"),
        *[F.col(f"t.{c}").alias(c) for c in extra_cols],
    )


def embedding_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return _partial_topk_merge(_batch_scores_arrow(emb), BATCH_K)


EMBEDDING_BATCH_TOPK_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id IN {QUERY_BATCH_IDS}
),
scored AS (
  SELECT q.query_id, e.vec_id,
         CAST(ROUND(CAST(list_dot_product(e.embedding::DOUBLE[], q.qv)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.qv, q.qv))) AS DECIMAL(38,9)), 4) AS DOUBLE) AS cosine
  FROM embeddings e, q
  WHERE e.vec_id != q.query_id
)
SELECT query_id, rnk, vec_id, cosine FROM (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rnk
  FROM scored
) WHERE rnk <= {BATCH_K}
"""


# --- int8-quantized cosine top-k (similarity_search_topk, compressed) ---------


def quantized_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 neighbors of vec_id=0 by cosine over int8-QUANTIZED
    vectors (functions/vectors.py::quantize_int8 semantics) — the
    compressed scan path for 100-TB similarity: 4x less I/O and memory
    bandwidth than float32, and cosine needs no dequantization because
    the per-vector scale cancels. The oracle re-implements the same
    quantizer in DuckDB list lambdas, so the hash match pins the
    quantization math itself (scale, half-up rounding, zero-vector
    guard), not just the ranking.

    Quantize + score run as ONE Arrow batch kernel (the
    ``_batch_scores_arrow`` / ``assign_ivf_clusters_arrow`` pattern):
    the HOF formulation evaluated ``quantize_int8`` + the cosine fold
    interpreted per element, making the int8 tier 2.4x SLOWER than the
    float path it exists to beat (the r4 verdict's top perf finding).
    Bit-parity with the oracle is preserved exactly, not approximately:
    every quantized value is an integer, so dots and squared norms are
    EXACT in float64 regardless of summation order — the only inexact
    steps (x/s + 0.5 per element; the final dot/(|a||b|) with the same
    multiply-then-divide shape) are single IEEE operations identical in
    numpy, Spark expressions, and DuckDB. Zero vectors quantize to all
    zeros and score NULL (never NaN — NaN sorts ABOVE every real double
    in Spark's descending order)."""
    import numpy as np
    import pyarrow as pa

    emb = load(spark, sf_dir, "embeddings")
    q_emb = (
        emb.filter(F.col("vec_id") == QUERY_VEC_ID).select("embedding").collect()
    )[0]["embedding"]
    qv = np.asarray(q_emb, dtype=np.float64)

    def _quantize(m: "np.ndarray") -> "np.ndarray":
        # rows x dim float64 -> rows x dim float64 holding EXACT int8
        # values: scale = max|v|/127, q = floor(x/scale + 0.5),
        # all-zero rows stay all-zero (mirrors quantize_int8 / the
        # DuckDB lambda twin operation-for-operation).
        s = np.abs(m).max(axis=1) / 127.0
        safe = np.where(s > 0, s, 1.0)
        q = np.floor(m / safe[:, None] + 0.5)
        q[s == 0] = 0.0
        return q

    qq = _quantize(qv[None, :])[0]
    qn = float(np.sqrt(np.dot(qq, qq)))  # exact int sum -> correctly rounded

    def op(batches):
        # mapInArrow, not mapInPandas: the embedding column arrives as
        # one Arrow ListArray whose flat values buffer reshapes into the
        # (B, dim) matrix without any per-row object conversion.
        for b in batches:
            if b.num_rows == 0:
                continue
            col = b.column(b.schema.get_field_index("embedding"))
            flat = col.flatten().to_numpy(zero_copy_only=False)
            m = flat.astype(np.float64, copy=False).reshape(len(col), -1)
            q = _quantize(m)
            dots = q @ qq
            norms = np.sqrt(np.einsum("ij,ij->i", q, q))
            denom = norms * qn
            raw = np.where(denom > 0, dots / np.where(denom > 0, denom, 1.0), np.nan)
            yield pa.RecordBatch.from_arrays(
                [b.column(0), b.column(1), pa.array(raw, type=pa.float64())],
                names=["vec_id", "label", "_raw"],
            )

    # No fan_out here, deliberately: the batched kernel makes per-row
    # cost trivial (one fused matvec), so the stage is bandwidth-bound —
    # a forced exchange would move every vector once more to feed Python
    # workers whose compute is ~ms. Parallelism comes from the scan
    # splits, which at 100 TB number in the thousands.
    scored = emb.select("vec_id", "label", "embedding").mapInArrow(
        op, "vec_id long, label int, _raw double"
    )
    return (
        scored.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select(
            "vec_id",
            "label",
            r(F.when(~F.isnan("_raw"), F.col("_raw")), 4).alias("cosine_q"),
        )
        .orderBy(F.col("cosine_q").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


QUANTIZED_TOPK_COSINE_SQL = f"""
WITH base AS (
  SELECT vec_id, label, embedding,
         list_max(list_transform(embedding::DOUBLE[], y -> abs(y))) / 127.0 AS s
  FROM embeddings
),
qz AS (
  SELECT vec_id, label,
         CASE WHEN s > 0
              THEN list_transform(embedding::DOUBLE[],
                                  x -> CAST(floor(x / s + 0.5) AS INTEGER))
              ELSE list_transform(embedding::DOUBLE[], x -> 0) END AS q
  FROM base
),
qv AS (SELECT q AS qq FROM qz WHERE vec_id = {QUERY_VEC_ID})
SELECT vec_id, label,
       CAST(ROUND(CAST(list_dot_product(q::DOUBLE[], qq::DOUBLE[])
             / (sqrt(list_dot_product(q::DOUBLE[], q::DOUBLE[]))
                * sqrt(list_dot_product(qq::DOUBLE[], qq::DOUBLE[]))) AS DECIMAL(38,9)), 4) AS DOUBLE) AS cosine_q
FROM qz, qv
WHERE vec_id != {QUERY_VEC_ID}
ORDER BY cosine_q DESC, vec_id
LIMIT {TOP_K}
"""


# --- embedding near-dup pairs (SURVEY §2.11 near_dedup, cosine variant) -------

COSINE_PAIR_THRESHOLD = 0.4

# Oracle-mirrored sample bound for the registered all-pairs query —
# same budget rationale as plans/textq.py::NEARDUP_SAMPLE_MAX_ID.
EMB_NEARDUP_SAMPLE_MAX_ID = 250


def embedding_neardup_pairs(
    spark: SparkSession, sf_dir: str, max_id: int | None = None
) -> DataFrame:
    """All-pairs cosine >= threshold (exact formulation; the scale path
    is LSH bucketing in operators/similarity.py — random-hyperplane
    signatures prune the pair space before the exact check)."""
    emb = load(spark, sf_dir, "embeddings")
    if max_id is not None:
        emb = emb.filter(F.col("vec_id") < max_id)
    emb = fan_out(emb)
    a = emb.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("emb_a")
    ).alias("a")
    b = emb.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("emb_b")
    ).alias("b")
    cos = cosine_similarity(F.col("emb_a"), F.col("emb_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", r(cos, 4).alias("cosine"))
        .filter(F.col("cosine") >= COSINE_PAIR_THRESHOLD)
    )


def embedding_neardup_pairs_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered variant: oracle-mirrored ``vec_id < N`` sample."""
    return embedding_neardup_pairs(spark, sf_dir, max_id=EMB_NEARDUP_SAMPLE_MAX_ID)


EMBEDDING_NEARDUP_PAIRS_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings)
SELECT id_a, id_b, cosine FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(ROUND(CAST(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS DECIMAL(38,9)), 4) AS DOUBLE)
           AS cosine
  FROM e a JOIN e b ON a.vec_id < b.vec_id
) WHERE cosine >= {COSINE_PAIR_THRESHOLD}
"""

EMBEDDING_NEARDUP_PAIRS_SAMPLED_SQL = EMBEDDING_NEARDUP_PAIRS_SQL.replace(
    "FROM embeddings)", f"FROM embeddings WHERE vec_id < {EMB_NEARDUP_SAMPLE_MAX_ID})"
)


# --- SemDeDup: cluster-pruned semantic near-dup pairs -------------------------

SEMANTIC_N_CENTROIDS = 8


def semantic_dedup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-pruned semantic dedup (SemDeDup, arXiv:2303.09540):
    high-cosine pairs searched only WITHIN centroid clusters. The FULL
    pipeline — assignment argmax, in-cluster pair generation, exact
    verify — is hash-checked against a SQL twin. Registered with the
    Arrow/BLAS assignment (the throughput path, ~4x on this corpus);
    it is bit-compatible with both the pure-expression formulation
    (pytest parity) and the DuckDB argmax (verified at sf0.01: numpy
    pairwise vs sequential double summation never flips the argmax on
    real-valued embeddings — exact ties would need identical cosines
    to the last ulp)."""
    from ..operators.similarity import semantic_dedup_pairs

    emb = fan_out(load(spark, sf_dir, "embeddings"))
    return semantic_dedup_pairs(
        emb, threshold=COSINE_PAIR_THRESHOLD,
        n_centroids=SEMANTIC_N_CENTROIDS, vectorized=True,
    )


_DDB_COS = (
    "list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b})))"
)

SEMANTIC_DEDUP_PAIRS_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {SEMANTIC_N_CENTROIDS}),
asg AS (
  SELECT vec_id, v, cid AS cluster FROM (
    SELECT e.vec_id, e.v, cents.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_DDB_COS.format(a="e.v", b="cents.cv")} DESC, cents.cid
           ) AS rn
    FROM e, cents
  ) WHERE rn = 1
)
SELECT id_a, id_b, cluster, cosine FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cluster,
         CAST(ROUND(CAST({_DDB_COS.format(a="a.v", b="b.v")}
              AS DECIMAL(38,9)), 4) AS DOUBLE) AS cosine
  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
) WHERE cosine >= {COSINE_PAIR_THRESHOLD}
"""


# --- multimodal binary metadata (SURVEY §2.11 multimodal_columns) -------------

def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary plumbing: documents' text treated as a binary blob
    column (stand-in for image/audio bytes) with typed metadata — byte
    length + sha256 content address. The decode/feature UDF path lives
    in operators/multimodal.py (mapInPandas; decode stubbed since no
    image libs in this container)."""
    docs = load(spark, sf_dir, "documents")
    blob = F.col("text").cast("binary")
    return docs.select(
        "doc_id",
        F.length(blob).cast("long").alias("n_bytes"),
        F.sha2(blob, 256).alias("sha256"),
        F.col("source").alias("modality_source"),
    )


MULTIMODAL_BINARY_META_SQL = """
SELECT doc_id,
       CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes,
       sha256(text) AS sha256,
       source AS modality_source
FROM documents
"""


# --- perceptual image near-dup (multimodal_columns x near_dedup) --------------

IMG_BASES = 40  # distinct base images; docs sharing a base are near-dups
IMG_SIDE = 16


def image_neardup_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a deterministic PPM media table from document ids
    (no image testdata exists; the codec/pipeline is real, the pixels
    are seeded): docs with the same ``doc_id % IMG_BASES`` share a base
    image, each with a tiny per-doc corner edit — planted near-dups."""
    import numpy as np
    import pandas as pd

    from ..functions.codecs import encode_ppm

    docs = fan_out(load(spark, sf_dir, "documents")).select("doc_id")

    def synth(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                rng = np.random.RandomState(int(doc_id) % IMG_BASES)
                px = rng.randint(0, 256, size=(IMG_SIDE, IMG_SIDE, 3)).astype("uint8")
                px[0, 0] = (int(doc_id) * 37) % 256  # per-doc perturbation
                rows.append(
                    {"media_id": int(doc_id), "content": encode_ppm(px)}
                )
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    return docs.mapInPandas(synth, "media_id long, content binary")


def image_neardup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-aHash image near-dup pairs (rows-only: the media pixels
    come from numpy's RandomState, which no SQL engine can replay;
    invariants + exact hamming verified in test_multimodal.py). Same
    one-shuffle banding plan as SimHash. The ORACLE-EXACT variant of
    this whole pipeline is ``image_neardup_pairs_exact`` below."""
    from ..operators.multimodal import image_neardup_pairs

    return image_neardup_pairs(image_neardup_media(spark, sf_dir))


# --- oracle-exact image near-dup: md5 pixels + integer aHash ------------------

IMG_X_BASES = 40  # docs sharing doc_id % 40 share a base image
IMG_X_SIDE = 16  # 16x16x3 = 768 bytes = 48 md5 digests of 16 bytes
IMG_X_DIGESTS = (IMG_X_SIDE * IMG_X_SIDE * 3) // 16
IMG_X_SALT = "img"
IMG_X_HAM = 6


def md5_image_media_from_ids(ids: DataFrame, bases: int = IMG_X_BASES) -> DataFrame:
    """Deterministic PPM media table whose pixels a SQL engine can
    re-derive: pixel byte k of base image b = byte k%16 of
    md5('img:{b}:{k//16}') — hashlib bytes Spark-side == hex-pair
    extraction of DuckDB's md5() string. Pixel (0,0) then takes the
    per-doc edit (doc_id*37)%256 on all three channels: docs sharing a
    base are planted near-dups, exactly like image_neardup_media, but
    on a basis the oracle can replay. ``ids`` is any frame with a
    ``doc_id`` column; ``bases`` lets the scale smoke grow the base
    count with the corpus (constant members per base)."""
    import hashlib

    import numpy as np
    import pandas as pd

    from ..functions.codecs import encode_ppm

    side, nd = IMG_X_SIDE, IMG_X_DIGESTS

    def synth(batches):
        # docs sharing doc_id % bases share their md5 pixel stream:
        # derive each base's ENCODED bytes once per task (bases × nd
        # digests instead of rows × nd — the per-task heavyweight-init
        # rule). The per-doc edit sets pixel (0, 0) on all three
        # channels, which in P6 row-major layout is exactly the first
        # 3 payload bytes — so each row is three byte-slices
        # (header + edit + shared tail), no per-row numpy, no per-row
        # encode. Byte-identical to encode_ppm(px-with-corner-edit):
        # pinned by the equality test in tests/test_plans.py.
        header_tail: dict[int, tuple[bytes, bytes]] = {}

        def parts_for(base: int) -> tuple[bytes, bytes]:
            parts = header_tail.get(base)
            if parts is None:
                raw = b"".join(
                    hashlib.md5(f"{IMG_X_SALT}:{base}:{j}".encode()).digest()
                    for j in range(nd)
                )
                px = np.frombuffer(raw, dtype=np.uint8).reshape(side, side, 3)
                enc = encode_ppm(px)
                hdr_len = len(enc) - len(raw)
                parts = (enc[:hdr_len], raw[3:])
                header_tail[base] = parts
            return parts

        for pdf in batches:
            mids, contents = [], []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                header, tail = parts_for(did % bases)
                e = (did * 37) % 256
                mids.append(did)
                contents.append(header + bytes((e, e, e)) + tail)
            yield pd.DataFrame({"media_id": mids, "content": contents})

    return ids.select("doc_id").mapInPandas(synth, "media_id long, content binary")


def _md5_image_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return md5_image_media_from_ids(
        fan_out(load(spark, sf_dir, "documents")).select("doc_id")
    )


def image_neardup_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full multimodal near-dup pipeline with an EXACT DuckDB twin
    (refutes the r5 'no SQL PPM decoder' rows-only justification): md5
    pixels -> encode_ppm -> decode_ppm -> integer aHash (all-integer
    threshold, operators/multimodal.py::image_ahash_int) -> 4x16-bit
    banding -> bucket-grouped candidates -> exact hamming <= {ham}.
    The twin never touches PPM bytes — it re-derives the same pixels
    straight from the md5 basis — so a decode_ppm header/stride/channel
    bug makes Spark's hash diverge from the oracle's: the encode/decode
    ROUNDTRIP itself is hash-pinned. Scale shape: two narrow
    mapInPandas passes, one band-key shuffle (degenerate-bucket cap),
    ids-only pair join; the xxhash-era float tier stays
    ``image_neardup_pairs``."""
    from ..operators.multimodal import image_ahash_int, image_neardup_pairs

    media = _md5_image_media(spark, sf_dir)
    return image_neardup_pairs(
        media, max_hamming=IMG_X_HAM, hasher=image_ahash_int
    ).select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def _img_exact_sql() -> str:
    # flat pixel index of cell ci's channel c: y=ci//8, x=ci%8 map to
    # source pixel (2y, 2x) [resize_nearest: y*16//8], so
    # k = ((ci//8)*2*16 + (ci%8)*2)*3 + c; k<=2 is pixel (0,0) = edit.
    k = "(((ci // 8) * 32 + (ci % 8) * 2) * 3 + c)"
    byte = (
        f"CASE WHEN {k} <= 2 THEN edit ELSE "
        f"CAST(concat('0x', substr(d[{k} // 16 + 1], ({k} % 16) * 2 + 1, 2)) "
        "AS INTEGER) END"
    )
    sign_min = -(1 << 63)
    return f"""
WITH m AS (
  SELECT doc_id AS media_id, doc_id % {IMG_X_BASES} AS base,
         (doc_id * 37) % 256 AS edit
  FROM documents
),
dg AS (
  SELECT media_id, edit,
         list_transform(range(0, {IMG_X_DIGESTS}),
           j -> md5('{IMG_X_SALT}:' || CAST(base AS VARCHAR) || ':' ||
                    CAST(j AS VARCHAR))) AS d
  FROM m
),
cl AS (
  SELECT media_id,
         list_transform(range(0, 64), ci ->
           CAST(list_sum(list_transform(range(0, 3), c -> {byte})) AS BIGINT)
         ) AS cells
  FROM dg
),
h AS (
  SELECT media_id, cells, list_sum(cells) AS total FROM cl
),
sig AS (
  SELECT media_id,
         CAST(list_sum(list_transform(range(0, 63),
           i -> CASE WHEN cells[i + 1] * 64 >= total
                THEN CAST(1 AS BIGINT) << i ELSE 0 END)) AS BIGINT)
         + CASE WHEN cells[64] * 64 >= total
                THEN CAST({sign_min} AS BIGINT) ELSE 0 END AS ahash,
         list_transform(range(0, 4), k ->
           CAST(list_sum(list_transform(range(0, 16),
             j -> CASE WHEN cells[CAST(k AS INTEGER) * 16 + j + 1] * 64 >= total
                  THEN CAST(1 AS BIGINT) << j ELSE 0 END)) AS BIGINT)) AS bands
  FROM h
),
bands_raw AS (
  SELECT media_id, CAST(b AS INTEGER) AS band_idx, bands[b + 1] AS band_hash
  FROM sig, UNNEST(range(0, 4)) AS u(b)
),
-- mirror pairs_within_buckets' MAX_BUCKET degenerate-bucket cap
bands AS (
  SELECT * FROM bands_raw
  QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_hash) <= {MAX_BUCKET}
),
p AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.media_id < b.media_id
)
SELECT id_a, id_b, hamming FROM (
  SELECT id_a, id_b,
         CAST(bit_count(xor(ha.ahash, hb.ahash)) AS BIGINT) AS hamming
  FROM p JOIN sig ha ON ha.media_id = id_a JOIN sig hb ON hb.media_id = id_b
) WHERE hamming <= {IMG_X_HAM}
"""


IMAGE_NEARDUP_PAIRS_EXACT_SQL = _img_exact_sql()


# --- oracle-exact audio fingerprint: md5 PCM + integer features ---------------

AUD_X_SAMPLES = 256  # 256 int16 samples = 512 bytes = 32 md5 digests
AUD_X_DIGESTS = (AUD_X_SAMPLES * 2) // 16
AUD_X_SALT = "wav"
AUD_X_RATE = 8000


def md5_audio_media_from_ids(ids: DataFrame) -> DataFrame:
    """Deterministic WAV media table whose PCM a SQL engine can
    re-derive: sample k of doc d = little-endian int16 from bytes
    2k/2k+1 of the md5('wav:{d}:{j}') stream — hashlib bytes Spark-side
    == hex-pair extraction of DuckDB's md5() string. ``ids`` is any
    frame with a ``doc_id`` column (the scale smoke passes a factor-x
    synthetic range)."""
    import hashlib

    import numpy as np
    import pandas as pd

    from ..functions.codecs import encode_wav

    nd = AUD_X_DIGESTS

    def synth(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                raw = b"".join(
                    hashlib.md5(f"{AUD_X_SALT}:{did}:{j}".encode()).digest()
                    for j in range(nd)
                )
                s = np.frombuffer(raw, dtype="<i2").copy()
                rows.append(
                    {"media_id": did, "content": encode_wav(s, AUD_X_RATE)}
                )
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    return ids.select("doc_id").mapInPandas(synth, "media_id long, content binary")


def _md5_audio_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return md5_audio_media_from_ids(
        fan_out(load(spark, sf_dir, "documents")).select("doc_id")
    )


def audio_fingerprint_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio pipeline with an EXACT DuckDB twin (the WAV sibling of
    ``image_neardup_pairs_exact``): md5 PCM -> encode_wav -> decode_wav
    -> integer features (operators/multimodal.py::audio_features_int:
    zero crossings, int64 energy, peak, 16-bit band-energy
    fingerprint). The twin re-derives the samples straight from the md5
    basis — it never parses RIFF bytes — so a decode_wav chunk-walk /
    endianness / widening bug diverges Spark from the oracle: the WAV
    encode/decode ROUNDTRIP itself is hash-pinned. Scale shape: two
    narrow mapInPandas passes, no shuffle at all."""
    from ..operators.multimodal import audio_features_int

    media = _md5_audio_media(spark, sf_dir)
    return audio_features_int(media)


def _audio_exact_sql() -> str:
    # byte b of doc: hex pair (b%16)*2+1 of digest b//16; sample k =
    # little-endian int16 from bytes 2k (lo) and 2k+1 (hi)
    lo = "CAST(concat('0x', substr(d[(2 * (k - 1)) // 16 + 1], " \
         "((2 * (k - 1)) % 16) * 2 + 1, 2)) AS INTEGER)"
    hi = "CAST(concat('0x', substr(d[(2 * (k - 1) + 1) // 16 + 1], " \
         "((2 * (k - 1) + 1) % 16) * 2 + 1, 2)) AS INTEGER)"
    n, nb = AUD_X_SAMPLES, 16
    return f"""
WITH m AS (SELECT doc_id AS media_id FROM documents),
dg AS (
  SELECT media_id,
         list_transform(range(0, {AUD_X_DIGESTS}),
           j -> md5('{AUD_X_SALT}:' || CAST(media_id AS VARCHAR) || ':' ||
                    CAST(j AS VARCHAR))) AS d
  FROM m
),
pcm AS (
  SELECT media_id,
         list_transform(range(1, {n} + 1), k ->
           CASE WHEN ({lo} + {hi} * 256) >= 32768
                THEN {lo} + {hi} * 256 - 65536
                ELSE {lo} + {hi} * 256 END) AS s
  FROM dg
),
feat AS (
  SELECT media_id, s,
         CAST(list_sum(list_transform(range(1, {n}),
           k -> CASE WHEN (s[k] < 0) <> (s[k + 1] < 0) THEN 1 ELSE 0 END))
           AS BIGINT) AS zero_crossings,
         CAST(list_sum(list_transform(s, x -> CAST(x AS BIGINT) * x))
           AS BIGINT) AS energy,
         CAST(list_max(list_transform(s, x -> abs(x))) AS BIGINT) AS peak,
         list_transform(range(0, {nb}), w ->
           CAST(list_sum(list_transform(range(1, {n} + 1), k ->
             CASE WHEN ((k - 1) * {nb}) // {n} = w
                  THEN CAST(s[k] AS BIGINT) * s[k] ELSE 0 END)) AS BIGINT)
         ) AS we
  FROM pcm
)
SELECT media_id,
       CAST({n} AS BIGINT) AS n_samples,
       zero_crossings, energy, peak,
       CAST(list_sum(list_transform(range(0, {nb}), w ->
         CASE WHEN we[w + 1] * {nb} >= energy
              THEN CAST(1 AS BIGINT) << w ELSE 0 END)) AS BIGINT) AS band_hash
FROM feat
"""


AUDIO_FINGERPRINT_EXACT_SQL = _audio_exact_sql()


# --- contrastive hard-negative mining -----------------------------------------

NEG_K = 3


def hard_negatives_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training hard negatives: for each query vector, the
    ``NEG_K`` most cosine-similar vectors with a DIFFERENT label — the
    near-misses a contrastive loss learns the most from. Same batched
    Arrow scoring + two-phase partial top-k as ``embedding_batch_topk``
    (labels ride the scorer as a passthrough column, so no join against
    the scored set); the different-label filter runs before the top-k,
    map-side."""
    emb = load(spark, sf_dir, "embeddings")
    q_labels = {
        row["vec_id"]: row["label"]
        for row in emb.filter(F.col("vec_id").isin(*QUERY_BATCH_IDS))
        .select("vec_id", "label")
        .collect()
    }
    qmap = F.create_map(
        *[F.lit(x) for kv in q_labels.items() for x in kv]
    )
    scored = _batch_scores_arrow(emb, passthrough=("label",))
    negs = scored.filter(F.col("label") != qmap[F.col("query_id")])
    return _partial_topk_merge(negs, NEG_K, extra_cols=("label",)).select(
        "query_id", "rnk", "vec_id", F.col("label").cast("int").alias("label"),
        "cosine",
    )


HARD_NEGATIVES_TOPK_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS qlabel, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id IN {QUERY_BATCH_IDS}
),
scored AS (
  SELECT q.query_id, e.vec_id, e.label,
         CAST(ROUND(CAST(list_dot_product(e.embedding::DOUBLE[], q.qv)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.qv, q.qv))) AS DECIMAL(38,9)), 4) AS DOUBLE) AS cosine
  FROM embeddings e, q
  WHERE e.vec_id != q.query_id AND e.label != q.qlabel
)
SELECT query_id, rnk, vec_id, label, cosine FROM (
  SELECT query_id, vec_id, label, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rnk
  FROM scored
) WHERE rnk <= {NEG_K}
"""


# --- hybrid retrieval: keyword + vector fusion (RRF) --------------------------

HYBRID_TERMS = ("spark", "hash", "merge")  # the keyword side of the query
HYBRID_POOL = 50  # per-ranker candidate pool
HYBRID_K = 10
RRF_K = 60  # the standard reciprocal-rank-fusion damping constant


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval, the RAG-stack workhorse: a keyword ranking
    (term frequency over the document corpus) and a vector ranking
    (cosine to the query embedding) fused by reciprocal rank fusion —
    ``score(d) = Σ_r 1/(RRF_K + rank_r(d))`` (Cormack et al., SIGIR'09).

    Scale shape: each ranker is scan → TakeOrderedAndProject to its
    ``HYBRID_POOL`` (no global sort); ranks come from a window over the
    pooled candidates only (tiny); the fusion is a full outer join of
    two k-row sets. The embedding side reuses the documents' aligned
    vectors (doc_id == vec_id in the testdata contract)."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")

    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    terms = F.array(*[F.lit(t) for t in HYBRID_TERMS])
    tf = F.size(F.filter(toks, lambda t: F.array_contains(terms, t)))
    kw_pool = (
        docs.select("doc_id", tf.alias("tf"))
        .filter(F.col("tf") > 0)
        .orderBy(F.col("tf").desc(), "doc_id")
        .limit(HYBRID_POOL)
    )
    kw = kw_pool.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("tf").desc(), "doc_id"))
        .alias("kw_rank"),
    )

    qv = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("_qv")
    )
    vec_pool = (
        emb.crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            r(cosine_similarity(F.col("embedding"), F.col("_qv")), 6).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), "doc_id")
        .limit(HYBRID_POOL)
    )
    vec = vec_pool.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("cos").desc(), "doc_id"))
        .alias("vec_rank"),
    )

    fused = kw.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        F.col("kw_rank").cast("long").alias("kw_rank"),
        F.col("vec_rank").cast("long").alias("vec_rank"),
        r(
            F.coalesce(1.0 / (RRF_K + F.col("kw_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (RRF_K + F.col("vec_rank")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(HYBRID_K)


_HYBRID_TERMS_SQL = ", ".join(f"'{t}'" for t in HYBRID_TERMS)

HYBRID_SEARCH_RRF_SQL = f"""
WITH kw_pool AS (
  SELECT doc_id, tf FROM (
    SELECT doc_id,
           len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           t -> list_contains([{_HYBRID_TERMS_SQL}], t))) AS tf
    FROM documents
  ) WHERE tf > 0
  ORDER BY tf DESC, doc_id LIMIT {HYBRID_POOL}
),
kw AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY tf DESC, doc_id) AS kw_rank
  FROM kw_pool
),
qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
vec_pool AS (
  SELECT vec_id AS doc_id,
         CAST(ROUND(CAST(list_dot_product(embedding::DOUBLE[], qv.v)
               / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                  * sqrt(list_dot_product(qv.v, qv.v))) AS DECIMAL(38,9)), 6) AS DOUBLE)
           AS cos
  FROM embeddings, qv
  ORDER BY cos DESC, doc_id LIMIT {HYBRID_POOL}
),
vec AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY cos DESC, doc_id) AS vec_rank
  FROM vec_pool
)
SELECT doc_id,
       CAST(kw_rank AS BIGINT) AS kw_rank,
       CAST(vec_rank AS BIGINT) AS vec_rank,
       CAST(ROUND(CAST(COALESCE(1.0 / ({RRF_K} + kw_rank), 0.0)
             + COALESCE(1.0 / ({RRF_K} + vec_rank), 0.0) AS DECIMAL(38,9)), 6)
            AS DOUBLE) AS rrf
FROM kw FULL OUTER JOIN vec USING (doc_id)
ORDER BY rrf DESC, doc_id LIMIT {HYBRID_K}
"""


OVERLAP_KS = (5, 10, 20)


def retrieval_rank_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranker-agreement eval: overlap@k and Jaccard@k between the
    keyword ranking and the vector ranking for the same query — the
    diagnostic that decides whether hybrid fusion (`hybrid_search_rrf`)
    is worth running (disjoint rankers gain the most from RRF).

    Scale shape: each ranker is scan → TakeOrdered to its pool (no
    global sort — same shape as the hybrid query); the overlap grid is
    a constant ×|ks| fan-out of the ≤2·pool fused rows into one tiny
    agg.
    """
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")

    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    terms = F.array(*[F.lit(t) for t in HYBRID_TERMS])
    tf = F.size(F.filter(toks, lambda t: F.array_contains(terms, t)))
    kw = (
        docs.select("doc_id", tf.alias("tf"))
        .filter(F.col("tf") > 0)
        .orderBy(F.col("tf").desc(), "doc_id")
        .limit(HYBRID_POOL)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("tf").desc(), "doc_id"))
            .alias("kw_rank"),
        )
    )
    qv = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("_qv")
    )
    vec = (
        emb.crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            r(cosine_similarity(F.col("embedding"), F.col("_qv")), 6).alias(
                "cos"
            ),
        )
        .orderBy(F.col("cos").desc(), "doc_id")
        .limit(HYBRID_POOL)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("cos").desc(), "doc_id"))
            .alias("vec_rank"),
        )
    )
    fused = kw.join(vec, "doc_id", "full_outer").select(
        "kw_rank",
        "vec_rank",
        F.explode(F.array(*[F.lit(k) for k in OVERLAP_KS])).alias("k"),
    )
    g = fused.groupBy("k").agg(
        F.count(F.when(F.col("kw_rank") <= F.col("k"), 1))
        .cast("long")
        .alias("n_kw"),
        F.count(F.when(F.col("vec_rank") <= F.col("k"), 1))
        .cast("long")
        .alias("n_vec"),
        F.count(
            F.when(
                (F.col("kw_rank") <= F.col("k"))
                & (F.col("vec_rank") <= F.col("k")),
                1,
            )
        )
        .cast("long")
        .alias("n_overlap"),
    )
    return g.select(
        F.col("k").cast("int").alias("k"),
        "n_kw",
        "n_vec",
        "n_overlap",
        r(
            F.col("n_overlap").cast("double")
            / (F.col("n_kw") + F.col("n_vec") - F.col("n_overlap")),
            4,
        ).alias("jaccard_at_k"),
    )


RETRIEVAL_RANK_OVERLAP_SQL = f"""
WITH kw_pool AS (
  SELECT doc_id, tf FROM (
    SELECT doc_id,
           len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           t -> list_contains([{_HYBRID_TERMS_SQL}], t))) AS tf
    FROM documents
  ) WHERE tf > 0
  ORDER BY tf DESC, doc_id LIMIT {HYBRID_POOL}
),
kw AS (
  SELECT doc_id, row_number() OVER (ORDER BY tf DESC, doc_id) AS kw_rank
  FROM kw_pool
),
qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
vec_pool AS (
  SELECT vec_id AS doc_id,
         CAST(ROUND(CAST(list_dot_product(embedding::DOUBLE[], qv.v)
               / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                  * sqrt(list_dot_product(qv.v, qv.v))) AS DECIMAL(38,9)), 6) AS DOUBLE)
           AS cos
  FROM embeddings, qv
  ORDER BY cos DESC, doc_id LIMIT {HYBRID_POOL}
),
vec AS (
  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS vec_rank
  FROM vec_pool
),
fused AS (
  SELECT kw_rank, vec_rank, k
  FROM kw FULL OUTER JOIN vec USING (doc_id),
       UNNEST({list(OVERLAP_KS)}) AS rk(k)
),
g AS (
  SELECT k,
         COUNT(CASE WHEN kw_rank <= k THEN 1 END) AS n_kw,
         COUNT(CASE WHEN vec_rank <= k THEN 1 END) AS n_vec,
         COUNT(CASE WHEN kw_rank <= k AND vec_rank <= k THEN 1 END)
           AS n_overlap
  FROM fused GROUP BY 1
)
SELECT CAST(k AS INTEGER) AS k,
       CAST(n_kw AS BIGINT) AS n_kw,
       CAST(n_vec AS BIGINT) AS n_vec,
       CAST(n_overlap AS BIGINT) AS n_overlap,
       CAST(ROUND(CAST(CAST(n_overlap AS DOUBLE)
            / (n_kw + n_vec - n_overlap) AS DECIMAL(38,9)), 4) AS DOUBLE)
         AS jaccard_at_k
FROM g
"""


# --- approx distinct (SURVEY §2.11 approx_distinct_nodes; rows-only) ----------

def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ sketch — estimator differs from DuckDB's, so this
    is rows-only; tests assert the estimate is within rsd of exact."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.count("*").alias("n"),
    )


# --- sketch family: approx percentiles + frequent items (rows-only) -----------

def approx_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna sketch) per event type — the
    mergeable-quantile path for 100 TB where the exact sort-based
    ``percentile`` would shuffle every value. Accuracy vs the exact
    query is asserted in tests (rows-only: sketch output is
    implementation-defined, no SQL twin)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_percentile("value", F.lit(0.5), F.lit(1000)).alias("p50_approx"),
        F.approx_percentile("value", F.lit(0.9), F.lit(1000)).alias("p90_approx"),
        F.count("*").alias("n"),
    )


def frequent_event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters over a high-cardinality column via freqItems
    (Karp-Shenker-Papadimitriou single-pass sketch) — rows-only."""
    ev = load(spark, sf_dir, "events")
    return ev.freqItems(["user_id"], support=0.05)


# --- MinHash-LSH near-dup candidates (rows-only; verified vs exact in tests) --

# --- derandomized md5 MinHash sketch (shared by candidates + calibration) -----

# the sketch itself (MHJ_* constants, _md5_minhash_sketch) lives in
# operators/dedup.py since r11, shared with the persisted index's md5
# tier and imported at the top; the oracle-budget sampling constants
# are query-side concerns and stay here
MHJ_SAMPLE_MAX_ID = 250  # oracle-budget all-pairs sample (textq convention)
MHJ_MIN_INTER_X20 = 1  # keep pairs with exact Jaccard >= 1/20 (integer test)


# session-lifetime temp dirs for the index-lifecycle queries — shared
# io_utils helper since late r11 (streamq/tsq replay queries use it
# too); atexit-bounded residue, lazy scans stay valid
_ephemeral_dir = ephemeral_dir


# shared SQL fragments of the sketch twin
_MHJ_DIGS_SQL = ",\n         ".join(
    f"list_transform(toks, t -> md5('{salt}:' || t)) AS dig{g}"
    for g, salt in enumerate(MHJ_SALTS)
)
_MHJ_MINS_SQL = ",\n         ".join(
    f"list_min(list_transform(dig{k // 4}, d -> CAST(concat('0x', "
    f"substr(d, {1 + 8 * (k % 4)}, 8)) AS BIGINT))) AS mh{k}"
    for k in range(MHJ_PERMS)
)


def minhash_neardup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH candidate pairs on the DERANDOMIZED md5
    sketch over 3-word SHINGLES (_md5_minhash_sketch — the same 16
    permutations the calibration query pins, on the selective basis the
    xxhash64 scale tier uses: token sets saturate on a 31-word vocab,
    shingles are near-unique per doc): 4 bands of 4 minima; docs
    agreeing on all four minima of any band are candidates. The twin
    re-derives the sketch, the banding, and the distinct-pair
    generation, so the hash match covers the LSH structure itself. The
    xxhash64 scale tier is operators/dedup.py::minhash_lsh_candidates
    with the identical bucket-grouping plan shape (one shuffle on the
    band key, no self-join of the signature pipeline,
    degenerate-bucket cap) — and the twin mirrors the cap via QUALIFY,
    so parity holds at every scale factor (at sf<=0.01 it cannot bind:
    |documents| = 500 < MAX_BUCKET).
    """
    from ..operators.dedup import pairs_within_buckets

    docs = load(spark, sf_dir, "documents")
    sk = _md5_minhash_sketch(docs, basis="shingles")
    bands = sk.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.concat_ws(
                            ":",
                            *[
                                F.col(f"mh{4 * b + j}").cast("string")
                                for j in range(4)
                            ],
                        ).alias("band_hash"),
                    )
                    for b in range(MH_CAND_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.band_hash")
    return pairs_within_buckets(bands, ["band_idx", "band_hash"], "doc_id")


def _mh_cand_sql() -> str:
    from .textq import _SHINGLE_LIST_SQL

    band_rows = "\n  UNION ALL\n".join(
        "  SELECT doc_id, "
        f"{b} AS band_idx, "
        + " || ':' || ".join(f"CAST(mh{4 * b + j} AS VARCHAR)" for j in range(4))
        + " AS band_hash FROM sk"
        for b in range(MH_CAND_BANDS)
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         {_SHINGLE_LIST_SQL} AS toks
  FROM documents
),
dig AS (
  SELECT doc_id, toks,
         {_MHJ_DIGS_SQL}
  FROM base
),
sk AS (
  SELECT doc_id,
         {_MHJ_MINS_SQL}
  FROM dig
),
bands_raw AS (
{band_rows}
),
-- mirror pairs_within_buckets' degenerate-bucket cap (MAX_BUCKET, interpolated):
-- Spark drops whole buckets above the cap, so the twin must too or a
-- degenerate band key at larger SF makes Spark drop pairs the oracle keeps
bands AS (
  SELECT * FROM bands_raw
  QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_hash) <= {MAX_BUCKET}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
 AND a.doc_id < b.doc_id
"""


MINHASH_NEARDUP_CANDIDATES_SQL = _mh_cand_sql()


# Structural invariant, not a selectivity knob: any band-key match means
# one full band of minima already agrees, so n_match is at least the band
# width. Derived (16 perms / 4 bands) so a banding change keeps it true.
CROSS_SHARD_MIN_MATCH = MHJ_PERMS // MH_CAND_BANDS


def cross_shard_neardup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup shape with an exact twin: treat even doc_ids
    as the INDEXED corpus and odd doc_ids as the NEWLY ARRIVED shard,
    and find the shard's near-dups against the index — the query-level
    mirror of operators/dedup_index.py::dedup_new_batch (which persists
    the same structure; its side-effecting lifecycle is pytest-pinned,
    THIS query gives the probe math a driver hash check).

    Derandomized md5 sketch (the minhash_neardup_candidates basis):
    both sides band 16 minima into 4 bands; the indexed side drops
    degenerate buckets (> MAX_BUCKET members — mirrored in the twin via
    QUALIFY); candidates join shard bands against indexed bands on the
    band key; the verify reads the matching-minima count straight off
    the two sketch structs carried through the band rows (one sketch
    evaluation per side, no join-back) and reports the unbiased
    estimator n_match/16. The n_match >= band-width filter is the
    structural invariant a band match already guarantees (the
    constant is DERIVED from the banding, not tunable).

    Scale shape: one band-key exchange per side (the indexed window
    shares it), broadcast of the shard side, ids+minima-only rows.
    """

    docs = load(spark, sf_dir, "documents")
    sk = _md5_minhash_sketch(docs, basis="shingles")

    def band_rows(side):
        return side.select(
            F.struct("doc_id", *[f"mh{k}" for k in range(MHJ_PERMS)]).alias("m"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band_idx"),
                            F.concat_ws(
                                ":",
                                *[
                                    F.col(f"mh{4 * b + j}").cast("string")
                                    for j in range(4)
                                ],
                            ).alias("band_hash"),
                        )
                        for b in range(MH_CAND_BANDS)
                    ]
                )
            ).alias("band"),
        ).select("m", "band.band_idx", "band.band_hash")

    from pyspark.sql import Window

    w = Window.partitionBy("band_idx", "band_hash")
    indexed = (
        band_rows(sk.filter(F.col("doc_id") % 2 == 0))
        .withColumn("_bn", F.count(F.lit(1)).over(w))
        .filter(F.col("_bn") <= MAX_BUCKET)
        .drop("_bn")
    )
    shard = band_rows(sk.filter(F.col("doc_id") % 2 == 1)).select(
        F.col("m").alias("n"), "band_idx", "band_hash"
    )
    cands = (
        indexed.join(F.broadcast(shard), ["band_idx", "band_hash"])
        .select(F.col("n").alias("a"), F.col("m").alias("b"))
        .distinct()
    )
    n_match = None
    for k in range(MHJ_PERMS):
        t = F.when(F.col(f"a.mh{k}") == F.col(f"b.mh{k}"), 1).otherwise(0)
        n_match = t if n_match is None else n_match + t
    return (
        cands.select(
            F.col("a.doc_id").alias("new_id"),
            F.col("b.doc_id").alias("indexed_id"),
            n_match.cast("long").alias("n_match"),
        )
        .filter(F.col("n_match") >= CROSS_SHARD_MIN_MATCH)
        .select(
            "new_id",
            "indexed_id",
            "n_match",
            r(F.col("n_match").cast("double") / F.lit(float(MHJ_PERMS)), 4).alias(
                "est_jaccard"
            ),
        )
    )


def _cross_shard_sql() -> str:
    from .textq import _SHINGLE_LIST_SQL

    def band_rows(src: str) -> str:
        return "\n  UNION ALL\n".join(
            f"  SELECT doc_id, {b} AS band_idx, "
            + " || ':' || ".join(f"CAST(mh{4 * b + j} AS VARCHAR)" for j in range(4))
            + f" AS band_hash FROM {src}"
            for b in range(MH_CAND_BANDS)
        )

    n_match = " + ".join(
        f"CASE WHEN a.mh{k} = b.mh{k} THEN 1 ELSE 0 END" for k in range(MHJ_PERMS)
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         {_SHINGLE_LIST_SQL} AS toks
  FROM documents
),
dig AS (
  SELECT doc_id, toks,
         {_MHJ_DIGS_SQL}
  FROM base
),
sk AS (
  SELECT doc_id,
         {_MHJ_MINS_SQL}
  FROM dig
),
ske AS (SELECT * FROM sk WHERE doc_id % 2 = 0),
sko AS (SELECT * FROM sk WHERE doc_id % 2 = 1),
ib_raw AS (
{band_rows('ske')}
),
-- mirror the degenerate-bucket cap on the INDEXED side
ib AS (
  SELECT * FROM ib_raw
  QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_hash) <= {MAX_BUCKET}
),
nb AS (
{band_rows('sko')}
),
p AS (
  SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS indexed_id
  FROM nb n JOIN ib i
    ON n.band_idx = i.band_idx AND n.band_hash = i.band_hash
)
SELECT new_id, indexed_id, n_match,
       CAST(ROUND(CAST(CAST(n_match AS DOUBLE) / {float(MHJ_PERMS)}
            AS DECIMAL(38,9)), 4) AS DOUBLE) AS est_jaccard
FROM (
  SELECT new_id, indexed_id, CAST({n_match} AS BIGINT) AS n_match
  FROM p JOIN sk a ON a.doc_id = new_id JOIN sk b ON b.doc_id = indexed_id
)
WHERE n_match >= {CROSS_SHARD_MIN_MATCH}
"""


CROSS_SHARD_NEARDUP_PROBE_SQL = _cross_shard_sql()


def minhash_index_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED MinHash index's full lifecycle under a driver
    hash: build the md5-tier index over half the even-id corpus,
    EXTEND it with the other half, then probe the odd-id shard —
    (new_id, indexed_id, est_jaccard) for every banded candidate.

    ``cross_shard_neardup_probe`` pins the probe MATH (same sketch,
    banding, cap, matching-minima estimator); what it cannot pin is
    the operators/dedup_index.py PERSISTENCE path — staged build +
    meta stamp + parquet round-trip + sigs-before-bands append-extend
    (pytest-verified until now). The xxhash64 scale tier has no DuckDB
    counterpart, which is exactly why the index grew the ORACLE-TWINNED
    md5 sketch tier (r11): this query runs that tier's real lifecycle
    against a throwaway dir, completing the set — all three persisted
    indexes (minhash, decon, IVF) now carry oracle-gated lifecycles.
    threshold=0.25 is the banding's structural floor (a band match
    guarantees 4 of 16 matching minima), so the report carries every
    candidate the index surfaces."""
    import os

    from ..operators.dedup_index import (
        build_minhash_index,
        dedup_new_batch,
        extend_minhash_index,
    )

    docs = load(spark, sf_dir, "documents")
    even = F.col("doc_id") % 2 == 0
    path = os.path.join(_ephemeral_dir("mh_idx_q_"), "idx")
    build_minhash_index(
        docs.filter(even & (F.col("doc_id") % 4 == 0)), path, sketch="md5"
    )
    extend_minhash_index(docs.filter(even & (F.col("doc_id") % 4 != 0)), path)
    return dedup_new_batch(docs.filter(~even), path, threshold=0.25)


def _minhash_index_report_sql() -> str:
    # the cross_shard twin's structure with the probe's OUTPUT shape
    # (no n_match column, threshold filter on the rounded estimate) —
    # the indexed side is the union of the build and extend halves, so
    # the SQL needs no split: append-extend must be invisible.
    from .textq import _SHINGLE_LIST_SQL

    def band_rows(src: str) -> str:
        return "\n  UNION ALL\n".join(
            f"  SELECT doc_id, {b} AS band_idx, "
            + " || ':' || ".join(
                f"CAST(mh{4 * b + j} AS VARCHAR)" for j in range(4)
            )
            + f" AS band_hash FROM {src}"
            for b in range(MH_CAND_BANDS)
        )

    n_match = " + ".join(
        f"CASE WHEN a.mh{k} = b.mh{k} THEN 1 ELSE 0 END"
        for k in range(MHJ_PERMS)
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         {_SHINGLE_LIST_SQL} AS toks
  FROM documents
),
dig AS (
  SELECT doc_id, toks,
         {_MHJ_DIGS_SQL}
  FROM base
),
sk AS (
  SELECT doc_id,
         {_MHJ_MINS_SQL}
  FROM dig
),
ske AS (SELECT * FROM sk WHERE doc_id % 2 = 0),
sko AS (SELECT * FROM sk WHERE doc_id % 2 = 1),
ib_raw AS (
{band_rows('ske')}
),
ib AS (
  SELECT * FROM ib_raw
  QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_hash) <= {MAX_BUCKET}
),
nb AS (
{band_rows('sko')}
),
p AS (
  SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS indexed_id
  FROM nb n JOIN ib i
    ON n.band_idx = i.band_idx AND n.band_hash = i.band_hash
)
SELECT new_id, indexed_id,
       CAST(ROUND(CAST(CAST({n_match} AS DOUBLE) / {float(MHJ_PERMS)}
            AS DECIMAL(38,9)), 4) AS DOUBLE) AS est_jaccard
FROM p JOIN sk a ON a.doc_id = new_id JOIN sk b ON b.doc_id = indexed_id
WHERE CAST(ROUND(CAST(CAST({n_match} AS DOUBLE) / {float(MHJ_PERMS)}
      AS DECIMAL(38,9)), 4) AS DOUBLE) >= 0.25
"""


MINHASH_INDEX_REPORT_SQL = _minhash_index_report_sql()


def ml_minhash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark ML MinHashLSH approxSimilarityJoin variant (rows-only;
    converges with the hand-built LSH + exact verify in tests)."""
    from ..operators.dedup import ml_minhash_neardup_pairs

    docs = load(spark, sf_dir, "documents")
    return ml_minhash_neardup_pairs(docs, "doc_id", "text", threshold=0.8)


def minhash_verified_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end scale-path near-dedup: LSH candidates verified by
    exact shingle Jaccard >= 0.8 — the deliverable that replaces
    ``jaccard_neardup_pairs``'s O(n^2) join at corpus scale.

    ORACLE-BACKED: on the oracle-mirrored sample this must equal the
    exact all-pairs result (same SQL twin as jaccard_neardup_pairs) —
    no false positives by construction (exact verify), and full recall
    asserted in tests/test_dedup.py. The LSH prune -> exact verify
    path itself carries the green correctness row, not just its O(n^2)
    stand-in."""
    from ..operators.dedup import minhash_lsh_neardup_pairs
    from .textq import NEARDUP_SAMPLE_MAX_ID

    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < NEARDUP_SAMPLE_MAX_ID
    )
    pairs = minhash_lsh_neardup_pairs(docs, "doc_id", "text", threshold=0.8)
    return pairs.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "jaccard"
    )


# The verified-LSH query shares the exact all-pairs twin on the same
# oracle-mirrored sample (built lazily to avoid import-order games).
def _minhash_verified_sql() -> str:
    from .textq import (
        JACCARD_NEARDUP_PAIRS_SQL,
        NEARDUP_SAMPLE_MAX_ID,
        _doc_sampled_sql,
    )

    return _doc_sampled_sql(JACCARD_NEARDUP_PAIRS_SQL, NEARDUP_SAMPLE_MAX_ID)


_MINHASH_VERIFIED_SQL = _minhash_verified_sql()


def neardup_components_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clustering: verified LSH pairs -> connected
    components (alternating large-star/small-star) -> per-doc
    ``(component_id, keep)`` dedup decision, min-id survivor per
    cluster. The end of the dedup pipeline a curation run executes.

    Oracle: DuckDB recursive CTE computing the same min-reachable-id
    closure over the exact all-pairs >=0.8-Jaccard edge list on the
    oracle-mirrored ``doc_id < N`` sample.
    """
    from ..operators.dedup import neardup_clusters
    from .textq import NEARDUP_SAMPLE_MAX_ID

    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < NEARDUP_SAMPLE_MAX_ID
    )
    return neardup_clusters(docs, "doc_id", "text", threshold=0.8)


def _neardup_comp_ctes() -> str:
    """Shared recursive-CTE block (pairs -> edges -> min-label closure
    -> comp) used by every twin that needs the exact connected
    components of the >=0.8-Jaccard graph on the oracle-mirrored
    sample."""
    from .textq import (
        JACCARD_NEARDUP_PAIRS_SQL,
        NEARDUP_SAMPLE_MAX_ID,
        _doc_sampled_sql,
    )

    inner = _doc_sampled_sql(JACCARD_NEARDUP_PAIRS_SQL, NEARDUP_SAMPLE_MAX_ID)
    return f"""pairs AS (
  {inner}
), edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
), reach(u, lbl) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u
), comp AS (
  SELECT u AS doc_id, MIN(lbl) AS component_id FROM reach GROUP BY u
)"""


def _neardup_components_sql() -> str:
    from .textq import NEARDUP_SAMPLE_MAX_ID

    return f"""
WITH RECURSIVE {_neardup_comp_ctes()}
SELECT d.doc_id,
       COALESCE(c.component_id, d.doc_id) AS component_id,
       COALESCE(c.component_id, d.doc_id) = d.doc_id AS keep
FROM (SELECT doc_id FROM documents WHERE doc_id < {NEARDUP_SAMPLE_MAX_ID}) d
LEFT JOIN comp c ON c.doc_id = d.doc_id
"""


_NEARDUP_COMPONENTS_SQL = _neardup_components_sql()


def quality_survivor_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection per near-dup cluster — what a
    curation run actually keeps: within each transitive >=0.8-Jaccard
    component, the LONGEST document wins (max n_chars, ties to the
    lowest doc_id), not simply the minimum id. One row per component
    with the survivor and member stats.

    Scale shape: the cluster labels come from the bucketed-LSH ->
    verify -> alternating-star CC pipeline (all bounded, no all-pairs),
    the quality join is an equi-join on doc_id, and the arg-max is a
    map-side-partialed ``max_by`` hash aggregate — no window over the
    corpus. Oracle: the shared recursive-CTE components plus a
    first_value window per component.
    """
    from ..operators.dedup import neardup_clusters
    from .textq import NEARDUP_SAMPLE_MAX_ID

    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < NEARDUP_SAMPLE_MAX_ID
    )
    comp = neardup_clusters(docs, "doc_id", "text", threshold=0.8)
    m = comp.join(docs.select("doc_id", "n_chars"), "doc_id")
    return m.groupBy("component_id").agg(
        F.max_by(
            "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("_t"))
        ).alias("survivor_doc_id"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


def _quality_survivor_sql() -> str:
    from .textq import NEARDUP_SAMPLE_MAX_ID

    return f"""
WITH RECURSIVE {_neardup_comp_ctes()},
members AS (
  SELECT d.doc_id,
         COALESCE(c.component_id, d.doc_id) AS component_id,
         d.n_chars
  FROM (SELECT doc_id, n_chars FROM documents
        WHERE doc_id < {NEARDUP_SAMPLE_MAX_ID}) d
  LEFT JOIN comp c ON c.doc_id = d.doc_id
)
SELECT component_id, survivor_doc_id, n_members, max_chars FROM (
  SELECT component_id,
         first_value(doc_id) OVER w AS survivor_doc_id,
         CAST(COUNT(*) OVER (PARTITION BY component_id) AS BIGINT) AS n_members,
         CAST(MAX(n_chars) OVER (PARTITION BY component_id) AS BIGINT) AS max_chars,
         row_number() OVER w AS rn
  FROM members
  WINDOW w AS (PARTITION BY component_id ORDER BY n_chars DESC, doc_id)
) WHERE rn = 1
"""


_QUALITY_SURVIVOR_SQL = _quality_survivor_sql()


# Deterministic batch membership for the incremental-dedup query: every
# third doc of the oracle-mirrored sample plays the "incoming batch",
# the rest the already-indexed corpus.
DELTA_BATCH_MOD = 3


def delta_neardup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup: probe an incoming batch against the
    corpus LSH index plus itself (operators/dedup.py::
    delta_neardup_pairs) — the shape a continuously-ingesting pipeline
    runs per batch instead of re-deduping the whole corpus.

    Oracle: exact all-pairs >=0.8-Jaccard over the same sample,
    restricted to pairs touching the batch, with the same
    (batch_id, match_id, match_side) orientation.
    """
    from ..operators.dedup import delta_neardup_pairs
    from .textq import NEARDUP_SAMPLE_MAX_ID

    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < NEARDUP_SAMPLE_MAX_ID
    )
    batch = docs.filter(F.col("doc_id") % DELTA_BATCH_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % DELTA_BATCH_MOD != 0)
    return delta_neardup_pairs(batch, corpus, "doc_id", "text", threshold=0.8)


def _delta_neardup_sql() -> str:
    from .textq import (
        JACCARD_NEARDUP_PAIRS_SQL,
        NEARDUP_SAMPLE_MAX_ID,
        _doc_sampled_sql,
    )

    inner = _doc_sampled_sql(JACCARD_NEARDUP_PAIRS_SQL, NEARDUP_SAMPLE_MAX_ID)
    m = DELTA_BATCH_MOD
    return f"""
WITH pairs AS (
  {inner}
)
SELECT CASE WHEN doc_a % {m} = 0 THEN doc_a ELSE doc_b END AS batch_id,
       CASE WHEN doc_a % {m} = 0 THEN doc_b ELSE doc_a END AS match_id,
       CASE WHEN doc_a % {m} = 0 AND doc_b % {m} = 0
            THEN 'batch' ELSE 'corpus' END AS match_side,
       jaccard
FROM pairs
WHERE doc_a % {m} = 0 OR doc_b % {m} = 0
"""


_DELTA_NEARDUP_SQL = _delta_neardup_sql()


# --- PageRank over the near-dup graph -----------------------------------------


def neardup_pagerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-3-iteration PageRank over the >=0.8-Jaccard near-dup graph
    (oracle-mirrored sample) — centrality-based canonical-doc scoring:
    within a dup cluster the highest-rank member is the most
    representative survivor choice (operators/graph.py). Edges come
    from the LSH-verified SCALE path (prune -> exact verify, same as
    neardup_components); the DuckDB twin derives the same edge set from
    the exact all-pairs formulation, so the hash match re-proves LSH
    recall AND the unrolled 3-step power iteration at once."""
    from ..operators.dedup import minhash_lsh_neardup_pairs
    from ..operators.graph import pagerank_fixed
    from .textq import NEARDUP_SAMPLE_MAX_ID

    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < NEARDUP_SAMPLE_MAX_ID
    )
    edges = minhash_lsh_neardup_pairs(docs, "doc_id", "text", 0.8).select(
        "id_a", "id_b"
    )
    pr = pagerank_fixed(edges, src="id_a", dst="id_b", n_iter=3)
    return pr.select(
        F.col("node").alias("doc_id"),
        F.col("deg").cast("long").alias("deg"),
        r("pagerank", 6).alias("pagerank"),
    )


def _neardup_pagerank_sql() -> str:
    from .textq import (
        JACCARD_NEARDUP_PAIRS_SQL,
        NEARDUP_SAMPLE_MAX_ID,
        _doc_sampled_sql,
    )

    inner = _doc_sampled_sql(JACCARD_NEARDUP_PAIRS_SQL, NEARDUP_SAMPLE_MAX_ID)
    it = """
{out} AS (
  SELECT e.d AS node,
         (CAST(1.0 AS DOUBLE) - 0.85) / (SELECT c FROM nn)
           + 0.85 * SUM(p.pr / g.deg) AS pr
  FROM edges e JOIN {prev} p ON p.node = e.s JOIN deg g ON g.s = e.s
  GROUP BY e.d
)"""
    return f"""
WITH pairs AS (
  {inner}
), edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION
  SELECT doc_b AS s, doc_a AS d FROM pairs
), deg AS (
  SELECT s, COUNT(*) AS deg FROM edges GROUP BY 1
), nn AS (SELECT COUNT(*) AS c FROM deg),
pr0 AS (SELECT s AS node, CAST(1.0 AS DOUBLE) / (SELECT c FROM nn) AS pr FROM deg),
{it.format(out="it1", prev="pr0")},
{it.format(out="it2", prev="it1")},
{it.format(out="it3", prev="it2")}
SELECT i.node AS doc_id, CAST(g.deg AS BIGINT) AS deg,
       CAST(ROUND(CAST(i.pr AS DECIMAL(38,9)), 6) AS DOUBLE) AS pagerank
FROM it3 i JOIN deg g ON g.s = i.node
"""


_NEARDUP_PAGERANK_SQL = _neardup_pagerank_sql()


# --- SimHash buckets (rows-only) ----------------------------------------------

SIMHASH_ORACLE_BITS = 64
SIMHASH_ORACLE_BAND_BITS = 16


def simhash_dedup_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash + 4x16-bit band keys per document — the
    Hamming-near-dup bucketing structure, on the DERANDOMIZED md5
    basis so the whole computation has an exact DuckDB twin (the r4
    verdict's rows-only-shrink item): token-hash bit b = bit (b%4) of
    hex digit b//4 of md5(token). The scale tier is
    operators/dedup.py::simhash_buckets (one xxhash64 per token
    instead of 16 hex-digit extractions) with the identical
    explode -> 64-conditional-sum hash-aggregate shape; this query
    pins the SimHash MATH (majority vote per bit, mask packing,
    banding) cross-engine, not just row counts.

    Scale shape: tokens explode once, 64 conditional SUMs aggregate
    map-side to one row per doc (only (id, 64 ints) shuffle — bodies
    never move), sign/mask packing is a narrow projection.
    """
    docs = load(spark, sf_dir, "documents")
    return md5_simhash_buckets(docs)


def md5_simhash_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash, band_0..3) on the md5 hex-digit bit basis —
    the reusable core of ``simhash_dedup_buckets`` (property-tested
    against a pure-Python model in tests/test_sketch_property.py).

    Every wide expression family (16 digit extractions, 64 counter
    aggregates, the 64-term mask packings) is built as SQL TEXT parsed
    by one ``F.expr`` per column, not as nested py4j ``Column`` calls:
    the Column formulation cost ~2.5 s of driver time per builder call
    (hundreds of py4j round-trips — the sign_matrix_literal lesson),
    while the parsed text is semantically identical integer arithmetic.
    """
    from ..functions.text import tokens

    toks = fan_out(docs).select(
        "doc_id",
        F.explode_outer(
            F.array_distinct(tokens(F.coalesce(F.col("text"), F.lit(""))))
        ).alias("_tok"),
    )
    hexed = toks.selectExpr(
        "doc_id",
        *[
            f"CAST(CONV(SUBSTRING(md5(_tok), {i + 1}, 1), 16, 10) AS INT) AS _d{i}"
            for i in range(16)
        ],
    )
    aggs = [
        F.expr(
            f"SUM(CASE WHEN (SHIFTRIGHT(_d{b // 4}, {b % 4}) & 1) = 1 "
            f"THEN 1 ELSE -1 END) AS _c{b}"
        )
        for b in range(SIMHASH_ORACLE_BITS)
    ]
    counters = hexed.groupBy("doc_id").agg(*aggs)
    masks = [(1 << b) if b < 63 else -(1 << 63) for b in range(SIMHASH_ORACLE_BITS)]

    def _packed(terms: list[tuple[int, int]]) -> str:
        # (counter b, mask) -> CASE term adding mask when counter b is
        # positive; bitwiseOR of disjoint masks == the Column chain it
        # replaces. Bands pack on LOCAL bit positions (1 << j), the
        # signature on global ones — same as the DuckDB twin below.
        return " | ".join(
            f"(CASE WHEN _c{b} > 0 THEN CAST({m} AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END)"
            for b, m in terms
        )

    sig = F.expr(_packed([(b, masks[b]) for b in range(SIMHASH_ORACLE_BITS)]))
    bands = [
        F.expr(
            _packed(
                [
                    (k * SIMHASH_ORACLE_BAND_BITS + j, 1 << j)
                    for j in range(SIMHASH_ORACLE_BAND_BITS)
                ]
            )
        ).alias(f"band_{k}")
        for k in range(SIMHASH_ORACLE_BITS // SIMHASH_ORACLE_BAND_BITS)
    ]
    return counters.select("doc_id", sig.alias("simhash"), *bands)


def _simhash_sql() -> str:
    """Generate the DuckDB twin of ``simhash_dedup_buckets``: identical
    hex-digit bit basis, majority-vote counters, disjoint-mask packing
    (the b=63 mask is the BIGINT sign bit, added LAST so no partial sum
    overflows)."""
    digits = ",\n         ".join(
        f"CAST(concat('0x', substr(md5(tok), {i + 1}, 1)) AS INTEGER) AS d{i}"
        for i in range(16)
    )
    counters = ",\n         ".join(
        f"SUM(CASE WHEN ((d{b // 4} >> {b % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS c{b}"
        for b in range(SIMHASH_ORACLE_BITS)
    )
    masks = [(1 << b) if b < 63 else -(1 << 63) for b in range(SIMHASH_ORACLE_BITS)]
    sig = " + ".join(
        f"CASE WHEN c{b} > 0 THEN CAST({masks[b]} AS BIGINT) ELSE 0 END"
        for b in range(SIMHASH_ORACLE_BITS)
    )
    band_exprs = []
    for k in range(SIMHASH_ORACLE_BITS // SIMHASH_ORACLE_BAND_BITS):
        e = " + ".join(
            f"CASE WHEN c{k * SIMHASH_ORACLE_BAND_BITS + j} > 0 "
            f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
            for j in range(SIMHASH_ORACLE_BAND_BITS)
        )
        band_exprs.append(f"({e}) AS band_{k}")
    bands = ",\n       ".join(band_exprs)
    return f"""
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id,
           list_distinct(string_split_regex(trim(lower(COALESCE(text, ''))),
                                            '\\s+')) AS ts
    FROM documents
  ), UNNEST(ts) AS u(tok)
),
dig AS (
  SELECT doc_id,
         {digits}
  FROM toks
),
ctr AS (
  SELECT doc_id,
         {counters}
  FROM dig GROUP BY doc_id
)
SELECT doc_id,
       CAST({sig} AS BIGINT) AS simhash,
       {bands}
FROM ctr
"""


SIMHASH_DEDUP_BUCKETS_SQL = _simhash_sql()


# --- sign-LSH pruned near-dup pairs (rows-only; recall vs exact in tests) -----

LSH_ND_PLANES = 24
LSH_ND_BANDS = 8
LSH_ND_BAND_BITS = LSH_ND_PLANES // LSH_ND_BANDS

HPLSH_ORACLE_PLANES = 16
# one salt for every md5-derandomized hyperplane family in the engine —
# the oracle SQL builders below interpolate it, functions/vectors.py's
# sign_band_rows (and through it operators/decon_index.py's persisted
# band index) derives the SAME signs from it
HPLSH_ORACLE_SALT = HPLSH_SALT


def _embedding_bands(
    spark: SparkSession, sf_dir: str, n_bands: int, band_bits: int, **extra: Column
) -> tuple[DataFrame, DataFrame]:
    """``(emb, bands)``: the fanned-out embeddings table and its
    ``sign_band_rows`` banding ``(vec_id, *extra, band_idx, band_hash)``
    — the one sign-LSH projection every md5-hyperplane query here
    rides (their twins derive the same bits with ``_ddb_sign_bit``).

    The literal sign matrix is sized by the vector dim, read off one
    row of the unfanned scan (no repartition job for the peek). An
    empty table has no row to read it from and no vector to band, so
    any dim plans the same typed, empty result."""
    raw = load(spark, sf_dir, "embeddings")
    first = raw.select(F.size("embedding")).head()
    dim = first[0] if first is not None else 1
    emb = fan_out(raw)
    base = emb.select(
        "vec_id",
        *[c.alias(k) for k, c in extra.items()],
        F.col("embedding").cast("array<double>").alias("_v"),
    )
    bands = sign_band_rows(
        base, "_v", n_bands, band_bits, dim, carry=("vec_id", *extra)
    )
    return emb, bands


def _ddb_sign_bit(p: int, bit: int) -> str:
    """DuckDB twin of one ``sign_band_rows`` bit: ``1 << bit`` when
    ``v``'s projection onto md5 hyperplane ``p`` is positive. The sign
    is the ``hplsh_sign_py`` formula element by element and the
    projection folds in index order, so both engines compare the same
    doubles."""
    sign = (
        "CASE WHEN (CAST(concat('0x', substr(md5("
        f"'{HPLSH_ORACLE_SALT}:{p}:' || CAST(i - 1 AS VARCHAR)"
        "), 1, 1)) AS INTEGER) & 1) = 1 THEN 1.0 ELSE -1.0 END"
    )
    proj = f"list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * ({sign})))"
    return f"CASE WHEN {proj} > 0 THEN CAST({1 << bit} AS BIGINT) ELSE 0 END"


def embedding_lsh_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path of ``embedding_neardup_pairs``: sign-LSH bands prune
    the pair space, exact cosine verifies — no false positives.

    Band parameters are tuned to the synthetic corpus (max pairwise
    cosine ~0.51, so the threshold is 0.4): 24 planes / 8 bands of 3
    bits gives ~90% analytic recall at cos 0.4. Production near-dup
    thresholds (>=0.9) make pruning far sharper with fewer, wider
    bands.

    Planes are DERANDOMIZED to the md5 basis (``sign_band_rows``, the
    same banding as ``hyperplane_lsh_bucket_sizes``) so the ENTIRE
    pipeline — sign projections, banding, bucket-grouped candidate
    generation, exact verify — has a DuckDB twin (r4 verdict
    rows-only-shrink item). The twin also mirrors the degenerate-bucket
    cap (MAX_BUCKET, interpolated) via QUALIFY, so parity holds at
    EVERY scale factor, not just the sf<=0.01 corpus where the cap
    cannot bind.
    """
    from ..operators.dedup import pairs_within_buckets

    emb, bands = _embedding_bands(spark, sf_dir, LSH_ND_BANDS, LSH_ND_BAND_BITS)
    cands = pairs_within_buckets(bands, ["band_idx", "band_hash"], "vec_id")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"))
    cos = cosine_similarity(F.col("_va"), F.col("_vb"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", r(cos, 4).alias("cosine"))
        .filter(F.col("cosine") >= COSINE_PAIR_THRESHOLD)
    )


def _lsh_neardup_sql() -> str:
    bucket = "\n           + ".join(_ddb_sign_bit(p, p) for p in range(LSH_ND_PLANES))
    cos = _DDB_COS.format(a="ea.v", b="eb.v")
    mask = (1 << LSH_ND_BAND_BITS) - 1
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
bkt AS (
  SELECT vec_id,
         ({bucket}) AS bkt
  FROM e
),
bands_raw AS (
  SELECT vec_id, CAST(b AS INTEGER) AS band_idx,
         (bkt >> (CAST(b AS INTEGER) * {LSH_ND_BAND_BITS})) & {mask} AS band_hash
  FROM bkt, UNNEST(range(0, {LSH_ND_BANDS})) AS u(b)
),
-- mirror pairs_within_buckets' degenerate-bucket cap (MAX_BUCKET, interpolated)
-- so the parity claim holds at every scale factor, not just sf<=0.01
bands AS (
  SELECT * FROM bands_raw
  QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_hash) <= {MAX_BUCKET}
),
p AS (
  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
  FROM bands x JOIN bands y
    ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
   AND x.vec_id < y.vec_id
)
SELECT id_a, id_b, cosine FROM (
  SELECT id_a, id_b,
         CAST(ROUND(CAST({cos} AS DECIMAL(38,9)), 4) AS DOUBLE) AS cosine
  FROM p JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b
) WHERE cosine >= {COSINE_PAIR_THRESHOLD}
"""


EMBEDDING_LSH_NEARDUP_PAIRS_SQL = _lsh_neardup_sql()


# --- semantic decontamination (LSH-pruned eval x train cosine; exact twin) ----

# deterministic ~10% eval holdout: md5(vec_id) bucket mod 10 == 0 (the
# content-hash-split convention of textq.py::doc_split_assignment,
# keyed on the vector id)
SEMCON_EVAL_MOD = 10


def _semcon_is_eval() -> Column:
    return (
        F.conv(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % SEMCON_EVAL_MOD
        == 0
    )


def _semcon_scored(
    spark: SparkSession, sf_dir: str, n_bands: int, band_bits: int
) -> DataFrame:
    """``(eval_id, cosine)`` for every eval x train pair colliding in
    at least one band — the shared scoring of both decontamination
    tiers, which differ only in banding and final aggregate.

    The degenerate-bucket cap (MAX_BUCKET) counts the WHOLE band,
    before the eval/train split. Candidates come from ONE bipartite
    equi-join on (band_idx, band_hash), so the eval x train cross
    product is never materialized; each candidate's cosine is exact.
    The twins mirror split, banding, cap and rounding, so parity holds
    at every scale factor."""
    from pyspark.sql import Window

    emb, bands = _embedding_bands(
        spark, sf_dir, n_bands, band_bits, _ev=_semcon_is_eval()
    )
    w = Window.partitionBy("band_idx", "band_hash")
    bands = (
        bands.withColumn("_n", F.count(F.lit(1)).over(w))
        .filter(F.col("_n") <= MAX_BUCKET)
        .drop("_n")
    )
    ev = bands.filter(F.col("_ev")).select(
        F.col("vec_id").alias("eval_id"), "band_idx", "band_hash"
    )
    tr = bands.filter(~F.col("_ev")).select(
        F.col("vec_id").alias("train_id"), "band_idx", "band_hash"
    )
    cands = (
        ev.join(tr, ["band_idx", "band_hash"])
        .select("eval_id", "train_id")
        .distinct()
    )
    a = emb.select(F.col("vec_id").alias("eval_id"), F.col("embedding").alias("_va"))
    b = emb.select(
        F.col("vec_id").alias("train_id"), F.col("embedding").alias("_vb")
    )
    return (
        cands.join(a, "eval_id")
        .join(b, "train_id")
        .select(
            "eval_id",
            r(cosine_similarity(F.col("_va"), F.col("_vb")), 4).alias("cosine"),
        )
    )


def semantic_contaminated_evals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level decontamination — the semantic sibling of
    ``contaminated_eval_docs``' n-gram overlap: an eval example whose
    nearest TRAIN neighbor by embedding cosine clears the near-dup
    threshold is contaminated even when no verbatim n-gram survives
    (paraphrases, translations, near-duplicates post-normalization).
    Reports, per contaminated eval vector, the strongest train cosine
    and how many train neighbors clear the threshold.

    Scale shape (the reason this survives 100 TB): the eval x train
    pair space is pruned by the SAME derandomized sign-LSH banding as
    ``embedding_lsh_neardup_pairs`` (24 md5 planes, 8 bands x 3 bits)
    and scored by ``_semcon_scored`` — bands are a narrow transform,
    candidates come from ONE bipartite equi-join on (band_idx,
    band_hash), and the full cross product is never materialized.

    Cost note (measured r9): the synthetic corpus forces a 0.4 cosine
    threshold, whose recall-preserving 3-bit bands make the verify
    pair-heavy (~10 s action at sf0.1) — the same trade recorded for
    ``embedding_lsh_neardup_pairs``; production thresholds (>=0.9)
    prune far sharper. Kept off the bench headline set per that
    standing policy."""
    scored = _semcon_scored(spark, sf_dir, LSH_ND_BANDS, LSH_ND_BAND_BITS)
    return (
        scored.filter(F.col("cosine") >= COSINE_PAIR_THRESHOLD)
        .groupBy("eval_id")
        .agg(
            F.max("cosine").alias("top_cosine"),
            F.count(F.lit(1)).alias("n_contaminating"),
        )
    )


def _semcon_sql() -> str:
    bucket = "\n           + ".join(_ddb_sign_bit(p, p) for p in range(LSH_ND_PLANES))
    cos = _DDB_COS.format(a="ea.v", b="eb.v")
    mask = (1 << LSH_ND_BAND_BITS) - 1
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
bkt AS (
  SELECT vec_id,
         (CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
               AS BIGINT) % {SEMCON_EVAL_MOD} = 0) AS is_eval,
         ({bucket}) AS bkt
  FROM e
),
bands_raw AS (
  SELECT vec_id, is_eval, CAST(b AS INTEGER) AS band_idx,
         (bkt >> (CAST(b AS INTEGER) * {LSH_ND_BAND_BITS})) & {mask} AS band_hash
  FROM bkt, UNNEST(range(0, {LSH_ND_BANDS})) AS u(b)
),
bands AS (
  SELECT * FROM bands_raw
  QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_hash) <= {MAX_BUCKET}
),
p AS (
  SELECT DISTINCT x.vec_id AS eval_id, y.vec_id AS train_id
  FROM bands x JOIN bands y
    ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
  WHERE x.is_eval AND NOT y.is_eval
),
s AS (
  SELECT eval_id,
         CAST(ROUND(CAST({cos} AS DECIMAL(38,9)), 4) AS DOUBLE) AS cosine
  FROM p JOIN e ea ON ea.vec_id = eval_id JOIN e eb ON eb.vec_id = train_id
)
SELECT eval_id, MAX(cosine) AS top_cosine,
       CAST(COUNT(*) AS BIGINT) AS n_contaminating
FROM s WHERE cosine >= {COSINE_PAIR_THRESHOLD}
GROUP BY eval_id
"""


SEMANTIC_CONTAMINATED_EVALS_SQL = _semcon_sql()


# --- production-threshold decontamination tier (r9 verdict #4) ----------------
#
# The loose tier above is pinned to the synthetic corpus's 0.4 cosine
# threshold, whose recall-preserving 3-bit bands make the verify
# pair-heavy (~63% of the cross product collides — measured r9, the
# reason it sits off the bench headline set). Production
# decontamination thresholds are >=0.9, where narrow bands with MANY
# bits prune sharply: 8 bands x 10 bits collide on ~8/1024 = 0.8% of
# random pairs while keeping ~85% per-pair recall at cosine 0.9
# ((1-(1-0.856^10)^8; 0.856 = 1 - acos(0.9)/pi). This tier IS the
# benched member — it carries the semantic-dedup cost story.
SEMCON_STRICT_THRESHOLD = 0.9
SEMCON_STRICT_BANDS = 8
SEMCON_STRICT_BAND_BITS = 10  # 80 planes total


def semantic_contaminated_evals_strict(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Production-threshold (>=0.9) semantic decontamination report.

    Per eval vector that has ANY train neighbor colliding in the sharp
    banding: the strongest candidate cosine, the candidate count, and
    how many clear the production contamination threshold. Unlike the
    loose tier it does NOT filter to contaminated-only — on a corpus
    with no planted >=0.9 cross pairs (this synthetic one: max cross
    cosine 0.4355 at sf0.001) the report still proves the prune+verify
    machinery end to end, and ``n_contaminating`` is the decision
    column a production run would act on.

    Scale shape: the loose tier's ``_semcon_scored`` with 80 planes in
    8 sharp 10-bit bands (the persisted decontamination index,
    operators/decon_index.py, bands with the same parameters), so
    collision volume scales with the 0.8% random band-collision rate,
    not the pair count."""
    scored = _semcon_scored(
        spark, sf_dir, SEMCON_STRICT_BANDS, SEMCON_STRICT_BAND_BITS
    )
    return scored.groupBy("eval_id").agg(
        F.max("cosine").alias("top_cosine"),
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(
            F.when(
                F.col("cosine") >= SEMCON_STRICT_THRESHOLD, 1
            ).otherwise(0)
        ).cast("long").alias("n_contaminating"),
    )


def _ddb_strict_bands_sql() -> str:
    """``bands_raw`` body of the strict-banding twins: one UNION ALL arm
    per band over ``bkt``, bit j of band b from plane ``b*bits + j``."""
    return "\nUNION ALL\n".join(
        f"SELECT vec_id, is_eval, {b} AS band_idx,\n"
        "       ("
        + "\n        + ".join(
            _ddb_sign_bit(b * SEMCON_STRICT_BAND_BITS + j, j)
            for j in range(SEMCON_STRICT_BAND_BITS)
        )
        + ") AS band_hash\n"
        "  FROM bkt"
        for b in range(SEMCON_STRICT_BANDS)
    )


def _semcon_strict_sql() -> str:
    cos = _DDB_COS.format(a="ea.v", b="eb.v")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
bkt AS (
  SELECT vec_id, v,
         (CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
               AS BIGINT) % {SEMCON_EVAL_MOD} = 0) AS is_eval
  FROM e
),
bands_raw AS (
{_ddb_strict_bands_sql()}
),
bands AS (
  SELECT * FROM bands_raw
  QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_hash) <= {MAX_BUCKET}
),
p AS (
  SELECT DISTINCT x.vec_id AS eval_id, y.vec_id AS train_id
  FROM bands x JOIN bands y
    ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
  WHERE x.is_eval AND NOT y.is_eval
),
s AS (
  SELECT eval_id,
         CAST(ROUND(CAST({cos} AS DECIMAL(38,9)), 4) AS DOUBLE) AS cosine
  FROM p JOIN e ea ON ea.vec_id = eval_id JOIN e eb ON eb.vec_id = train_id
)
SELECT eval_id, MAX(cosine) AS top_cosine,
       CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(COUNT(*) FILTER (cosine >= {SEMCON_STRICT_THRESHOLD})
            AS BIGINT) AS n_contaminating
FROM s
GROUP BY eval_id
"""


SEMANTIC_CONTAMINATED_EVALS_STRICT_SQL = _semcon_strict_sql()


def decon_index_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED decontamination index's full lifecycle under a
    driver hash: build the sign-LSH band index over two thirds of the
    train corpus, EXTEND it with the remaining shard (the incremental
    path a static-corpus-plus-deltas production regime runs), then
    probe the eval holdout — (eval_id, train_id, cosine) for every
    banded candidate pair, cosine exact off the index's stored
    vectors.

    ``semantic_contaminated_evals_strict`` pins the banding MATH (same
    shared sign_band_rows helper, same 8x10-bit parameters); what it
    cannot pin is the operators/decon_index.py PERSISTENCE path — the
    staged build + meta stamp + parquet round-trip + append-extend +
    broadcast-probed index scans (r10's new tier, pytest-verified
    until now). This query runs that actual lifecycle against a
    throwaway index dir and returns the probe report, so the DuckDB
    twin's hash check covers build/extend/probe end to end, the same
    promotion cross_shard_neardup_probe gave the MinHash band index.
    Threshold is -1.0 (report every candidate, not just contaminated
    ones) because the synthetic corpus plants no >=0.9 cross pairs —
    same rationale as the strict tier's unfiltered report.

    Probe semantics the twin mirrors exactly: the degenerate-bucket
    cap counts the STORED side only (the strict query caps the
    combined banding — a real index knows nothing about future eval
    shards), and the report is distinct over (eval_id, train_id,
    cosine). Scale shape is the module's: the index is never
    shuffled; probing costs three broadcast-probed index scans +
    eval-sized work (plan-pinned in test_decon_index.py)."""
    import os

    from ..operators.decon_index import (
        build_decon_index,
        extend_decon_index,
        probe_decon_index,
    )

    emb = fan_out(load(spark, sf_dir, "embeddings"))
    is_eval = _semcon_is_eval()
    evals = emb.filter(is_eval)
    train = emb.filter(~is_eval)
    path = os.path.join(_ephemeral_dir("decon_idx_q_"), "idx")
    build_decon_index(train.filter(F.col("vec_id") % 3 != 0), path)
    extend_decon_index(train.filter(F.col("vec_id") % 3 == 0), path)
    return probe_decon_index(evals, path, threshold=-1.0)


def _decon_index_report_sql() -> str:
    # the strict twin's bands (the index uses the same shared banding
    # helper and parameters); the CTE structure differs where the
    # PROBE's semantics differ from the one-shot query's: the bucket
    # cap partitions over the STORED (train) side only, and the output
    # is the distinct candidate-pair report, not a per-eval aggregate.
    cos = _DDB_COS.format(a="ea.v", b="eb.v")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
bkt AS (
  SELECT vec_id, v,
         (CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
               AS BIGINT) % {SEMCON_EVAL_MOD} = 0) AS is_eval
  FROM e
),
bands_raw AS (
{_ddb_strict_bands_sql()}
),
tb AS (
  SELECT vec_id, band_idx, band_hash FROM bands_raw WHERE NOT is_eval
  QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_hash) <= {MAX_BUCKET}
),
p AS (
  SELECT DISTINCT x.vec_id AS eval_id, y.vec_id AS train_id
  FROM bands_raw x JOIN tb y
    ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
  WHERE x.is_eval
)
SELECT eval_id, train_id,
       CAST(ROUND(CAST({cos} AS DECIMAL(38,9)), 4) AS DOUBLE) AS cosine
FROM p JOIN e ea ON ea.vec_id = eval_id JOIN e eb ON eb.vec_id = train_id
WHERE CAST(ROUND(CAST({cos} AS DECIMAL(38,9)), 4) AS DOUBLE) >= -1.0
"""


DECON_INDEX_REPORT_SQL = _decon_index_report_sql()


# --- trained-centroid IVF ANN (deterministic Lloyd's; exact SQL twin) ---------

ANN_N_CENTROIDS = 8
ANN_N_PROBE = 3
LLOYD_ITERS = 2

# squared-L2 mirror of operators/similarity.py::_euclidean_dist2 —
# elementwise (a[i]-b[i])^2 summed in array order, so the fold matches
# Spark's ``aggregate`` reduction bit for bit on identical inputs.
_DDB_D2 = (
    "list_sum(list_transform(range(1, len({a}) + 1),"
    " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
)


def ann_kmeans_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with TRAINED centroids via the deterministic
    DataFrame-native Lloyd's loop (operators/similarity.py::
    lloyd_ivf_topk): init = first-8 vectors, 2 assignment/update
    rounds with decimal-route-rounded centroid dims, Euclidean probe +
    exact cosine re-rank. Every stage is declarative, so the oracle
    unrolls the whole training loop in SQL — the hash match pins the
    k-means math itself (assignment argmin, per-dim means, probe
    ranking), closing the r3 verdict's ``no_oracle`` gap."""
    emb = load(spark, sf_dir, "embeddings")
    return lloyd_ivf_topk(
        emb, query_vec_id=QUERY_VEC_ID, k=TOP_K,
        n_centroids=ANN_N_CENTROIDS, n_probe=ANN_N_PROBE, n_iters=LLOYD_ITERS,
    )


def _kmeans_sql_iter(asg: str, cents_out: str, means: str) -> str:
    """One unrolled Lloyd update: per-dim mean (rounded via the decimal
    route, mirroring the Spark side) -> repacked centroid list."""
    return f"""
{means} AS (
  SELECT cluster, dim - 1 AS dim,
         CAST(ROUND(CAST(AVG(v[dim]) AS DECIMAL(38,9)), 6) AS DOUBLE) AS m
  FROM {asg}, unnest(range(1, len(v) + 1)) AS t(dim)
  GROUP BY cluster, dim
),
{cents_out} AS (
  SELECT cluster AS cid, list(m ORDER BY dim) AS cv FROM {means} GROUP BY cluster
)"""


def _kmeans_sql_assign(cents: str, out: str) -> str:
    d2 = _DDB_D2.format(a="e.v", b=f"{cents}.cv")
    return f"""
{out} AS (
  SELECT vec_id, v, cid AS cluster FROM (
    SELECT e.vec_id, e.v, {cents}.cid,
           row_number() OVER (
             PARTITION BY e.vec_id ORDER BY {d2} ASC, {cents}.cid
           ) AS rn
    FROM e, {cents}
  ) WHERE rn = 1
)"""


ANN_KMEANS_IVF_TOPK_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS cv FROM e
       WHERE vec_id < {ANN_N_CENTROIDS}),
{_kmeans_sql_assign("c0", "a1")},
{_kmeans_sql_iter("a1", "c1", "m1")},
{_kmeans_sql_assign("c1", "a2")},
{_kmeans_sql_iter("a2", "c2", "m2")},
{_kmeans_sql_assign("c2", "af")},
q AS (SELECT v AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
probe AS (
  SELECT cid AS cluster FROM c2, q
  ORDER BY {_DDB_D2.format(a="c2.cv", b="q.qv")} ASC, c2.cid
  LIMIT {ANN_N_PROBE}
)
SELECT af.vec_id, af.cluster,
       CAST(ROUND(CAST({_DDB_COS.format(a="af.v", b="q.qv")}
            AS DECIMAL(38,9)), 4) AS DOUBLE) AS cosine
FROM af JOIN probe USING (cluster), q
WHERE af.vec_id != {QUERY_VEC_ID}
ORDER BY cosine DESC, af.vec_id
LIMIT {TOP_K}
"""


def ivf_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED IVF index's full lifecycle under a driver hash:
    train + build over the base corpus (every vec_id < n_centroids
    plus two thirds of the rest — init needs the first-N vectors),
    EXTEND with the remaining shard assigned against the FROZEN
    centroids (the standard IVF continuous-ingestion regime), then
    search the query vector through the partition-pruned probe.

    ``ann_kmeans_ivf_topk`` pins the Lloyd's MATH; what it cannot pin
    is the operators/vindex.py PERSISTENCE path — staged build, the
    centroids parquet round-trip, the cluster-partitioned vectors
    layout, append-extend against frozen centroids, and the
    driver-side probe pick (pytest-verified until now). This query
    runs that actual lifecycle against a throwaway index dir; the
    DuckDB twin unrolls training over the BASE subset only and
    assigns the shard against the final centroids, so a hash match
    proves frozen-centroid extend semantics end to end (a twin that
    trained on everything would catch it: the shard must not move the
    centroids). Same promotion decon_index_report gives the decon
    index."""
    import os

    from ..operators.vindex import (
        build_ivf_index,
        extend_ivf_index,
        search_ivf_index,
    )

    emb = load(spark, sf_dir, "embeddings")
    in_base = (F.col("vec_id") % 3 != 2) | (
        F.col("vec_id") < ANN_N_CENTROIDS
    )
    path = os.path.join(_ephemeral_dir("ivf_idx_q_"), "idx")
    build_ivf_index(
        emb.filter(in_base), path,
        n_centroids=ANN_N_CENTROIDS, n_iters=LLOYD_ITERS,
    )
    extend_ivf_index(emb.filter(~in_base), path)
    qv = emb.filter(F.col("vec_id") == QUERY_VEC_ID).head()["embedding"]
    return search_ivf_index(
        spark, path, [float(x) for x in qv],
        k=TOP_K, n_probe=ANN_N_PROBE, exclude_id=QUERY_VEC_ID,
    )


def _ivf_index_topk_sql() -> str:
    # the ann_kmeans_ivf_topk twin with training restricted to the
    # BASE subset: assignments read their source table as a parameter
    # because the extend shard is assigned against the FINAL centroids
    # without participating in any training round.
    def assign(cents: str, src: str, out: str) -> str:
        d2 = _DDB_D2.format(a=f"{src}.v", b=f"{cents}.cv")
        return f"""
{out} AS (
  SELECT vec_id, v, cid AS cluster FROM (
    SELECT {src}.vec_id, {src}.v, {cents}.cid,
           row_number() OVER (
             PARTITION BY {src}.vec_id ORDER BY {d2} ASC, {cents}.cid
           ) AS rn
    FROM {src}, {cents}
  ) WHERE rn = 1
)"""

    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v FROM e
      WHERE vec_id % 3 <> 2 OR vec_id < {ANN_N_CENTROIDS}),
s AS (SELECT vec_id, v FROM e
      WHERE NOT (vec_id % 3 <> 2 OR vec_id < {ANN_N_CENTROIDS})),
c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS cv FROM b
       WHERE vec_id < {ANN_N_CENTROIDS}),
{assign("c0", "b", "a1")},
{_kmeans_sql_iter("a1", "c1", "m1")},
{assign("c1", "b", "a2")},
{_kmeans_sql_iter("a2", "c2", "m2")},
{assign("c2", "b", "ab")},
{assign("c2", "s", "ash")},
af AS (SELECT * FROM ab UNION ALL SELECT * FROM ash),
q AS (SELECT v AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
probe AS (
  SELECT cid AS cluster FROM c2, q
  ORDER BY {_DDB_D2.format(a="c2.cv", b="q.qv")} ASC, c2.cid
  LIMIT {ANN_N_PROBE}
)
SELECT af.vec_id, af.cluster,
       CAST(ROUND(CAST({_DDB_COS.format(a="af.v", b="q.qv")}
            AS DECIMAL(38,9)), 4) AS DOUBLE) AS cosine
FROM af JOIN probe USING (cluster), q
WHERE af.vec_id != {QUERY_VEC_ID}
ORDER BY cosine DESC, af.vec_id
LIMIT {TOP_K}
"""


IVF_INDEX_TOPK_SQL = _ivf_index_topk_sql()


# --- hyperplane-LSH buckets (derandomized md5 planes; exact SQL twin) ---------

def hyperplane_lsh_bucket_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane sign-LSH bucket occupancy — the ANN pruning
    structure's health check. Planes here are DERANDOMIZED to the md5
    basis (±1 from a hex digit of md5(salt:plane:dim)) so the whole
    bucketing has an exact DuckDB twin: the hash match pins the sign
    projections, bit packing and occupancy — the r4 verdict's
    rows-only-shrink item. The bucket is the single 16-bit band of
    ``sign_band_rows``: one narrow pass, no shuffle before the bounded
    (≤2^planes) occupancy agg.

    Both engines fold the projection sequentially over the dim index
    (Spark ``aggregate`` == DuckDB ``list_sum(list_transform(...))``),
    so the sign comparisons see bit-identical doubles.
    """
    _, bands = _embedding_bands(spark, sf_dir, 1, HPLSH_ORACLE_PLANES)
    return (
        bands.select(F.col("band_hash").alias("lsh_bucket"))
        .groupBy("lsh_bucket")
        .agg(F.count("*").cast("long").alias("n_vectors"))
    )


def _hplsh_sql() -> str:
    bucket = "\n         + ".join(
        _ddb_sign_bit(p, p) for p in range(HPLSH_ORACLE_PLANES)
    )
    return f"""
SELECT lsh_bucket, CAST(COUNT(*) AS BIGINT) AS n_vectors FROM (
  SELECT ({bucket}) AS lsh_bucket
  FROM (SELECT embedding::DOUBLE[] AS v FROM embeddings)
) GROUP BY 1
"""


HYPERPLANE_LSH_BUCKET_SIZES_SQL = _hplsh_sql()


# --- IVF-style ANN top-k (seeded centroids; exact SQL twin) -------------------

def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with the deterministic first-N-vectors centroids: cosine
    argmax assignment (narrow broadcast, zero shuffle), cosine probe of
    the {ANN_N_PROBE} nearest clusters, exact re-rank inside. The
    seeded assignment is fully declarative, so the twin expresses
    centroid choice + assignment + probe + re-rank exactly in SQL —
    the hash match covers the whole ANN pipeline, not just the final
    ranking (r3 verdict item 4)."""
    emb = load(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, query_vec_id=QUERY_VEC_ID, k=TOP_K,
        n_centroids=ANN_N_CENTROIDS, n_probe=ANN_N_PROBE,
    )


ANN_IVF_TOPK_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {ANN_N_CENTROIDS}),
q AS (SELECT v AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
asg AS (
  SELECT vec_id, v, cid AS cluster FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_DDB_COS.format(a="e.v", b="c.cv")} DESC, c.cid
           ) AS rn
    FROM e, c
  ) WHERE rn = 1
),
probe AS (
  SELECT cid AS cluster FROM c, q
  ORDER BY {_DDB_COS.format(a="c.cv", b="q.qv")} DESC, c.cid
  LIMIT {ANN_N_PROBE}
)
SELECT a.vec_id, a.cluster,
       CAST(ROUND(CAST({_DDB_COS.format(a="a.v", b="q.qv")}
            AS DECIMAL(38,9)), 4) AS DOUBLE) AS cosine
FROM asg a JOIN probe USING (cluster), q
WHERE a.vec_id != {QUERY_VEC_ID}
ORDER BY cosine DESC, a.vec_id
LIMIT {TOP_K}
"""


# Derandomized-PQ parameters: 4 subspaces x 8 codes, 2 deterministic
# Lloyd rounds per subspace, 20 ADC candidates into the exact re-rank.
PQD_M = 4
PQD_K = 8
PQD_ITERS = 2
PQD_CAND = 20


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k with exact re-rank, fully
    DERANDOMIZED so the ENTIRE pipeline has a DuckDB twin (closing the
    last plausibly-twinnable rows-only row): unit-normalize, slice into
    {m} subspaces, train each subspace's {k}-centroid codebook with the
    deterministic Lloyd loop (first-K init, decimal-rounded means —
    operators/similarity.py::lloyd_kmeans_centroids, the same machinery
    the ann_kmeans twin pins), encode by per-subspace argmin, score by
    ADC (sum of per-subspace query-to-assigned-centroid squared L2, a
    left-assoc 4-term sum both engines evaluate identically), keep the
    {cand} best candidates, exact-cosine re-rank on the raw floats.

    Scale shape: training state is O(M x K x dim) (broadcast packs);
    all M codebooks train in ONE grouped Lloyd loop over
    subspace-tagged rows (the centroid pack is a broadcast map
    s -> [(cid, cv)], the argmin stays a narrow transform/array_max
    projection, and each round is ONE mean-update aggregate over
    (s, cluster, dim) — 2 lineage checkpoints total instead of 2 per
    subspace); encoding falls out of the final assignment; ADC attaches
    via (s, cluster)-keyed joins; only the {cand}-row candidate set
    touches float vectors again. This is the package's one PQ, and
    the twin pins its math (training, encoding, ADC, re-rank order)
    cross-engine.

    An empty table, or one without the query id, yields the typed
    empty top-k (the same contract as _probe_and_rerank)."""
    emb = load(spark, sf_dir, "embeddings")
    empty = emb.select(
        "vec_id", F.lit(0.0).alias("adc_d2"), F.lit(0.0).alias("cosine")
    ).limit(0)
    first = emb.select("embedding").first()
    if first is None:
        return empty
    dim = len(first[0])
    assert dim % PQD_M == 0, (dim, PQD_M)
    w = dim // PQD_M

    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("_v"))
    base = base.withColumn("_n", F.sqrt(dot_raw(F.col("_v"), F.col("_v"))))
    base = materialize(
        base.withColumn(
            "_vn",
            F.when(
                F.col("_n") > 0,
                F.transform(F.col("_v"), lambda x: x / F.col("_n")),
            ).otherwise(F.col("_v")),
        ).select("vec_id", "_vn")
    )
    # subspace-tagged rows: (vec_id, s, v) — one frame trains all M
    # codebooks together; values are identical to M independent loops
    # because every aggregate and argmin is keyed by s.
    sub = base.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice("_vn", s * w + 1, w).alias("v"),
                    )
                    for s in range(PQD_M)
                ]
            )
        ).alias("p"),
    ).select("vec_id", "p.s", "p.v")

    def _arr_lit(vals) -> str:
        # double_sql_literal: non-finite doubles take the CAST('NaN'…)
        # form — repr(nan)/repr(inf) do not parse as SQL literals, so a
        # NaN-poisoned codebook mean would otherwise raise instead of
        # propagating (r11 verdict #1)
        return "array(" + ", ".join(double_sql_literal(x) for x in vals) + ")"

    def _assign_rows(cent_rows) -> DataFrame:
        # the M codebooks as ONE parsed map literal s -> sorted
        # (cid, cv) structs (byte-identical to the old
        # sort_array(collect_list) pack — cids are unique per s): the
        # assignment is then a NARROW projection, no crossJoin, no
        # broadcast-build job, no per-round checkpoint job. Bounded by
        # construction (M x K x subspace-dim literal doubles).
        by_s: dict[int, list] = {}
        for row in cent_rows:
            by_s.setdefault(int(row["s"]), []).append(row)
        entries = []
        for s in sorted(by_s):
            arr = ", ".join(
                "named_struct('cid', CAST(%d AS INT), 'cv', %s)"
                % (int(rw["cid"]), _arr_lit(rw["cv"]))
                for rw in sorted(by_s[s], key=lambda rw: int(rw["cid"]))
            )
            entries.append(f"{s}, array({arr})")
        cm = F.expr("map(" + ", ".join(entries) + ")")
        scored = F.transform(
            F.element_at(cm, F.col("s")),
            lambda c: F.struct(
                (-dist2_raw(F.col("v"), c["cv"])).alias("d"),
                (-c["cid"]).alias("t"),
                c["cid"].alias("cid"),
            ),
        )
        return sub.select(
            "vec_id", "s", "v", F.array_max(scored)["cid"].alias("cluster")
        )

    cent_rows = (
        sub.filter(F.col("vec_id") < PQD_K)
        .select("s", F.col("vec_id").cast("int").alias("cid"), F.col("v").alias("cv"))
        .collect()
    )
    # per-dimension AVG columns over groupBy(s, cluster) — half the
    # exchanges of the posexplode -> (s, cluster, dim) -> repack form
    # (same per-dim value sets, same decimal rounding); the per-round
    # collect IS the lineage truncation (M x K bounded rows)
    avg_exprs = [
        F.expr(
            f"CAST(ROUND(CAST(AVG(v[{i}]) AS DECIMAL(38,9)), 6) "
            f"AS DOUBLE) AS _m{i}"
        )
        for i in range(w)
    ]
    repack = F.expr("array(" + ",".join(f"_m{i}" for i in range(w)) + ")")
    for _ in range(PQD_ITERS):
        cent_rows = (
            _assign_rows(cent_rows)
            .groupBy("s", "cluster")
            .agg(*avg_exprs)
            .select("s", F.col("cluster").alias("cid"), repack.alias("cv"))
            .collect()
        )
    codes = _assign_rows(cent_rows).select("vec_id", "s", "cluster")
    # ADC term via two more map literals (query subvectors keyed by s,
    # codebook vectors keyed by s*K+cid — cids are < K by construction):
    # the old broadcast joins attached the SAME bounded data with two
    # broadcast-build jobs; the lookup keeps the scan -> ADC pipeline
    # one narrow pass
    qsub_rows = (
        sub.filter(F.col("vec_id") == QUERY_VEC_ID).select("s", "v").collect()
    )
    if not qsub_rows:
        # absent query id: an empty qmap literal would otherwise fail
        # analysis as a VOID map, and the final head() would raise
        # TypeError (r11 ADVICE)
        return empty
    qmap = F.expr(
        "map("
        + ", ".join(
            f"{int(rw['s'])}, {_arr_lit(rw['v'])}"
            for rw in sorted(qsub_rows, key=lambda rw: int(rw["s"]))
        )
        + ")"
    )
    cvmap = F.expr(
        "map("
        + ", ".join(
            f"{int(rw['s']) * PQD_K + int(rw['cid'])}, {_arr_lit(rw['cv'])}"
            for rw in sorted(
                cent_rows, key=lambda rw: (int(rw["s"]), int(rw["cid"]))
            )
        )
        + ")"
    )
    d = codes.select(
        "vec_id",
        "s",
        dist2_raw(
            F.element_at(qmap, F.col("s")),
            F.element_at(cvmap, F.col("s") * PQD_K + F.col("cluster")),
        ).alias("d"),
    )
    # one row per (vec, s): conditional sums pick each subspace's term,
    # then a FIXED-ORDER left-assoc add mirrors the twin exactly (a
    # plain SUM over doubles would add in nondeterministic order)
    adc = d.groupBy("vec_id").agg(
        *[
            F.sum(F.when(F.col("s") == s, F.col("d"))).alias(f"_d{s}")
            for s in range(PQD_M)
        ]
    )
    approx = None
    for s in range(PQD_M):  # left-assoc sum, mirrored in the twin
        approx = F.col(f"_d{s}") if approx is None else approx + F.col(f"_d{s}")
    cand = (
        adc.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", approx.alias("_approx"))
        .orderBy(F.col("_approx").asc(), "vec_id")
        .limit(PQD_CAND)
    )
    # raw query vector as a literal (cosine_similarity casts both sides
    # to array<double>, so the collected floats are value-identical to
    # the crossJoin+broadcast column this replaces — one head() job
    # instead of one broadcast-build job, and the re-rank stays narrow)
    # (non-None by construction here: qsub_rows was non-empty above,
    # and sub derives from this same emb)
    qv = emb.filter(F.col("vec_id") == QUERY_VEC_ID).head()["embedding"]
    return (
        cand.join(emb.select("vec_id", "embedding"), "vec_id")
        .select(
            "vec_id",
            r(F.col("_approx"), 6).alias("adc_d2"),
            r(
                cosine_similarity(F.col("embedding"), F.expr(_arr_lit(qv))), 4
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
    )


def _pq_assign_sql(base: str, cents: str, out: str) -> str:
    d2 = _DDB_D2.format(a=f"{base}.v", b=f"{cents}.cv")
    return f"""
{out} AS (
  SELECT vec_id, v, cid AS cluster FROM (
    SELECT {base}.vec_id, {base}.v, {cents}.cid,
           row_number() OVER (
             PARTITION BY {base}.vec_id ORDER BY {d2} ASC, {cents}.cid
           ) AS rn
    FROM {base}, {cents}
  ) WHERE rn = 1
)"""


def _pq_iter_sql(asg: str, cents_out: str, means: str) -> str:
    return f"""
{means} AS (
  SELECT cluster, dim - 1 AS dim,
         CAST(ROUND(CAST(AVG(v[dim]) AS DECIMAL(38,9)), 6) AS DOUBLE) AS m
  FROM {asg}, unnest(range(1, len(v) + 1)) AS t(dim)
  GROUP BY cluster, dim
),
{cents_out} AS (
  SELECT cluster AS cid, list(m ORDER BY dim) AS cv FROM {means} GROUP BY cluster
)"""


def _ann_pq_sql(dim: int = 64) -> str:
    w = dim // PQD_M
    parts = []
    d_exprs = []
    for s in range(PQD_M):
        lo, hi = s * w + 1, (s + 1) * w
        blocks = [
            f"s{s} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM vn)",
            f"s{s}c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS cv FROM s{s} "
            f"WHERE vec_id < {PQD_K})",
            _pq_assign_sql(f"s{s}", f"s{s}c0", f"s{s}a1"),
            _pq_iter_sql(f"s{s}a1", f"s{s}c1", f"s{s}m1"),
            _pq_assign_sql(f"s{s}", f"s{s}c1", f"s{s}a2"),
            _pq_iter_sql(f"s{s}a2", f"s{s}c2", f"s{s}m2"),
            _pq_assign_sql(f"s{s}", f"s{s}c2", f"s{s}af"),
            f"qs{s} AS (SELECT v AS qv FROM s{s} WHERE vec_id = {QUERY_VEC_ID})",
            f"""d{s} AS (
  SELECT af.vec_id,
         {_DDB_D2.format(a="qs.qv", b="c.cv")} AS d
  FROM s{s}af af JOIN s{s}c2 c ON af.cluster = c.cid, qs{s} qs
)""",
        ]
        parts.extend(blocks)
        d_exprs.append(f"d{s}.d")
    joins = " ".join(f"JOIN d{s} USING (vec_id)" for s in range(1, PQD_M))
    approx = " + ".join(d_exprs)
    cos = _DDB_COS.format(a="e.raw", b="qf.qv")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS raw FROM embeddings),
nrm AS (SELECT vec_id, raw, sqrt(list_dot_product(raw, raw)) AS nm FROM e),
vn AS (
  SELECT vec_id,
         CASE WHEN nm > 0 THEN list_transform(raw, x -> x / nm)
              ELSE raw END AS v
  FROM nrm
),
{",".join(parts)},
adc AS (
  SELECT d0.vec_id, {approx} AS approx
  FROM d0 {joins}
),
cand AS (
  SELECT vec_id, approx FROM adc
  WHERE vec_id != {QUERY_VEC_ID}
  ORDER BY approx ASC, vec_id
  LIMIT {PQD_CAND}
),
qf AS (SELECT raw AS qv FROM e WHERE vec_id = {QUERY_VEC_ID})
SELECT cand.vec_id,
       CAST(ROUND(CAST(cand.approx AS DECIMAL(38,9)), 6) AS DOUBLE) AS adc_d2,
       CAST(ROUND(CAST({cos} AS DECIMAL(38,9)), 4) AS DOUBLE) AS cosine
FROM cand JOIN e ON e.vec_id = cand.vec_id, qf
ORDER BY cosine DESC, cand.vec_id
LIMIT {TOP_K}
"""


ANN_PQ_TOPK_SQL = _ann_pq_sql()


# --- per-dimension standardization (feature whitening for ANN/clustering) -----

STANDARDIZE_PROBE_VECS = 3


def standardized_embedding_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-scoring end to end: corpus-wide dim stats (one
    constant-width shuffle) folded into a narrow transform expression
    (operators/similarity.py::embedding_dim_stats /
    standardize_vectors — the stats table is vector-width, so the
    driver-side collect is bounded by the embedding dimension, never
    the corpus). The declared output flattens the standardized values
    of the first STANDARDIZE_PROBE_VECS vectors alongside each dim's
    mean/std, so the hash match checks both the statistics and their
    application.
    """
    emb = load(spark, sf_dir, "embeddings")
    stats = embedding_dim_stats(emb)
    z = standardize_vectors(emb.filter(F.col("vec_id") < STANDARDIZE_PROBE_VECS), stats)
    flat = z.select(
        "vec_id", F.posexplode("z_vec").alias("dim", "zval")
    )
    return flat.join(stats, "dim").select(
        "vec_id",
        "dim",
        r("zval", 4).alias("z"),
        r("mean", 4).alias("dim_mean"),
        r("std", 4).alias("dim_std"),
    )


STANDARDIZED_EMBEDDING_PROBE_SQL = f"""
WITH vals AS (
  SELECT vec_id, dim - 1 AS dim, embedding[dim]::DOUBLE AS val
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(dim)
),
stats AS (
  SELECT dim, AVG(val) AS mean, stddev_pop(val) AS std
  FROM vals GROUP BY dim
)
SELECT v.vec_id, v.dim,
       CAST(ROUND(CAST((v.val - s.mean) / nullif(s.std, 0.0) AS DECIMAL(38,9)), 4) AS DOUBLE) AS z,
       CAST(ROUND(CAST(s.mean AS DECIMAL(38,9)), 4) AS DOUBLE) AS dim_mean,
       CAST(ROUND(CAST(s.std AS DECIMAL(38,9)), 4) AS DOUBLE) AS dim_std
FROM vals v JOIN stats s USING (dim)
WHERE v.vec_id < {STANDARDIZE_PROBE_VECS}
"""


# --- MMR diversified re-ranking (similarity_search_topk retrieval shape) ------

MMR_LAMBDA = 0.7
MMR_MU = 0.3  # NOT computed as 1 - MMR_LAMBDA: 0.3 != 1.0 - 0.7 in the last ulp
MMR_POOL = 20
MMR_K = 5


def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity re-ranking between retrieval and the context window:
    brute-force top-20 candidate pool by cosine to vec_id=0, then
    maximal-marginal-relevance greedy selection of 5 (lam=0.7).

    The pool build is the distributed part (one scan +
    TakeOrderedAndProject); the greedy loop runs over the LIMIT-bounded
    pool with one 1-row collect per round
    (operators/similarity.py::mmr_rerank — BPE/Lloyd's bounded-loop
    shape). Every similarity and score is decimal-rounded BEFORE each
    argmax, so the DuckDB twin (unrolled CTE cascade, one level per
    selection step) reproduces the greedy trajectory exactly.
    """
    from ..operators.similarity import mmr_rerank

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q_embedding")
    )
    pool = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"),
            r(cosine_similarity(F.col("embedding"), F.col("q_embedding")), 4).alias(
                "rel"
            ),
        )
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(MMR_POOL)
    )
    rows = mmr_rerank(pool, k=MMR_K, lam=MMR_LAMBDA, mu=MMR_MU)
    return spark.createDataFrame(
        [(int(rk), int(vid), float(rel), float(mmr)) for rk, vid, rel, mmr in rows],
        "rank bigint, vec_id bigint, rel double, mmr double",
    )


def _mmr_sql() -> str:
    """Unrolled MMR twin: sel1..selK CTE cascade, each level computing
    max rounded-cosine to the union of prior selections and taking the
    rounded-MMR argmax (ties to lowest vec_id) — the same greedy
    trajectory the Spark loop walks."""

    def cos(a: str, b: str) -> str:
        return (
            f"list_dot_product({a}, {b}) / "
            f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
        )

    def rnd(x: str) -> str:
        return f"CAST(ROUND(CAST({x} AS DECIMAL(38,9)), 4) AS DOUBLE)"

    lam = f"CAST({MMR_LAMBDA} AS DOUBLE)"
    mu = f"CAST({MMR_MU} AS DOUBLE)"
    parts = [
        f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
pool AS (
  SELECT vec_id, v, {rnd(cos('v', 'qv'))} AS rel
  FROM e, q WHERE vec_id != {QUERY_VEC_ID}
  ORDER BY rel DESC, vec_id LIMIT {MMR_POOL}
),
sel1 AS (
  SELECT vec_id, v, rel, 1 AS rank, {rnd(f'{lam} * rel')} AS mmr
  FROM pool ORDER BY mmr DESC, vec_id LIMIT 1
)"""
    ]
    for i in range(2, MMR_K + 1):
        prev = " UNION ALL ".join(f"SELECT vec_id, v FROM sel{j}" for j in range(1, i))
        parts.append(
            f""",
seld{i} AS ({prev}),
m{i} AS (
  SELECT p.vec_id, first(p.v) AS v, p.rel,
         MAX({rnd(cos('p.v', 's.v'))}) AS msim
  FROM pool p CROSS JOIN seld{i} s
  WHERE p.vec_id NOT IN (SELECT vec_id FROM seld{i})
  GROUP BY p.vec_id, p.rel
),
sel{i} AS (
  SELECT vec_id, v, rel, {i} AS rank,
         {rnd(f'{lam} * rel - {mu} * msim')} AS mmr
  FROM m{i} ORDER BY mmr DESC, vec_id LIMIT 1
)"""
        )
    final = " UNION ALL ".join(
        f"SELECT rank, vec_id, rel, mmr FROM sel{j}" for j in range(1, MMR_K + 1)
    )
    return (
        "".join(parts)
        + f"\nSELECT CAST(rank AS BIGINT) AS rank, vec_id, rel, mmr FROM ({final})"
    )


MMR_DIVERSIFIED_TOPK_SQL = _mmr_sql()


# --- embedding cluster-quality report (label column's evaluation use) ---------

def cluster_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label clustering quality over the embedding space: intra-
    cluster mean distance to own centroid, mean distance to the nearest
    OTHER centroid, and the simplified (centroid-based) silhouette —
    the report that decides whether `label` is usable for
    SemDeDup-style cluster pruning.

    Scale shape: centroids via posexplode -> (label, dim) hash agg
    (map-side partials bound the exchange at labels x dim rows) with
    per-dim decimal rounding (Lloyd parity rule, so both engines see
    bit-identical centroids); the distance pass is a NARROW projection
    against the broadcast packed-centroid row; final agg is keyed by
    label. No shuffle ever carries vectors.
    """
    emb = load(spark, sf_dir, "embeddings")
    cent = (
        emb.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "pos", "val"
            ),
        )
        .groupBy("label", "pos")
        .agg(r(F.avg("val"), 6).alias("cv"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                lambda s: s["cv"],
            ).alias("cvec")
        )
        .select(F.col("label").alias("c_label"), "cvec")
    )
    pack = cent.groupBy().agg(
        F.collect_list(F.struct("c_label", "cvec")).alias("_cs")
    )
    # the distance lambda runs once per centroid: reference the cast
    # vector as a MATERIALIZED column (bare attributes are free to
    # capture; a cast expression would re-run per centroid element —
    # functions/text.py::zipped_ngrams documents the trap)
    dist_to = lambda cv: F.sqrt(dist2_raw(F.col("v"), cv))  # noqa: E731
    per_vec = (
        emb.select(
            "label", F.col("embedding").cast("array<double>").alias("v")
        )
        .crossJoin(F.broadcast(pack))
        .select(
            "label",
            F.transform(
                "_cs",
                lambda c: F.struct(
                    c["c_label"].alias("cl"), dist_to(c["cvec"]).alias("d")
                ),
            ).alias("ds"),
        )
        .select(
            "label",
            F.element_at(
                F.filter("ds", lambda s: s["cl"] == F.col("label")), 1
            )["d"].alias("a"),
            F.array_min(
                F.transform(
                    F.filter("ds", lambda s: s["cl"] != F.col("label")),
                    lambda s: s["d"],
                )
            ).alias("b"),
        )
        .withColumn(
            "sil",
            F.when(
                F.greatest("a", "b") > 0,
                (F.col("b") - F.col("a")) / F.greatest("a", "b"),
            ).otherwise(F.lit(0.0)),
        )
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        r(F.avg("a"), 4).alias("mean_intra"),
        r(F.avg("b"), 4).alias("mean_nearest_other"),
        r(F.avg("sil"), 4).alias("mean_silhouette"),
    )


CORR_TOPK = 20


def embedding_corr_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``CORR_TOPK`` most-correlated embedding dimension pairs —
    the redundancy diagnostic behind PCA/whitening decisions (highly
    correlated dims mean the representation wastes capacity).

    Scale shape: the classic distributed-covariance formulation — each
    partition computes its Gram-matrix partial with ONE numpy matmul
    (``X.T @ X``, Arrow-batched mapInPandas; never a per-element HOF
    or a dim² row explode), the shuffle carries only dim²-bounded
    partial rows, and everything after the (i, j) sum-agg is narrow
    algebra over ≤ dim² rows plus two broadcast joins against the
    dim-sized diagonal. This is how distributed PCA builds its input
    everywhere; the dim² explode the DuckDB twin uses would be the
    scan×4096 shape Spark must NOT take.

    Ordering ties break on the ROUNDED |corr| then (i, j), so the
    top-k set is cross-engine stable.
    """
    # materialize: the aggregated grid is consumed through five
    # downstream aliases (cells, si, sj, vi, vj) — without the
    # checkpoint each one would re-run the whole Gram pass
    # (io_utils.materialize documents the exchange-reuse limitation)
    partials = materialize(gram_moments(load(spark, sf_dir, "embeddings")))
    cells = partials.filter(F.col("j") >= 0)
    sums = partials.filter(F.col("j") == -1)
    si = sums.select(F.col("i"), F.col("sxy").alias("si"))
    sj = sums.select(F.col("i").alias("j"), F.col("sxy").alias("sj"))
    with_marg = (
        cells.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .select(
            "i",
            "j",
            "n",
            (
                (F.col("sxy") - F.col("si") * F.col("sj") / F.col("n"))
                / (F.col("n") - 1)
            ).alias("cov"),
        )
    )
    diag = with_marg.filter(F.col("i") == F.col("j")).select(
        F.col("i").alias("d_pos"), F.col("cov").alias("var")
    )
    vi = diag.select(F.col("d_pos").alias("i"), F.col("var").alias("var_i"))
    vj = diag.select(F.col("d_pos").alias("j"), F.col("var").alias("var_j"))
    scored = (
        with_marg.filter(F.col("i") < F.col("j"))
        .join(F.broadcast(vi), "i")
        .join(F.broadcast(vj), "j")
        .select(
            F.col("i").alias("dim_i"),
            F.col("j").alias("dim_j"),
            F.col("n").cast("long").alias("n"),
            r("cov", 6).alias("cov"),
            r(
                F.col("cov") / F.sqrt(F.col("var_i") * F.col("var_j")), 6
            ).alias("corr"),
        )
    )
    return scored.orderBy(
        F.abs(F.col("corr")).desc(), "dim_i", "dim_j"
    ).limit(CORR_TOPK)


EMBEDDING_CORR_PAIRS_SQL = f"""
WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
x AS (
  SELECT v[i] AS xi, v[j] AS xj, i - 1 AS i, j - 1 AS j
  FROM e,
       UNNEST(range(1, len(v) + 1)) AS ri(i),
       UNNEST(range(1, len(v) + 1)) AS rj(j)
  WHERE j >= i
),
g AS (
  SELECT i, j, SUM(xi * xj) AS sxy, SUM(xi) AS sxi, SUM(xj) AS sxj,
         COUNT(*) AS n
  FROM x GROUP BY 1, 2
),
c AS (
  SELECT i, j, n, (sxy - sxi * sxj / n) / (n - 1) AS cov FROM g
),
d AS (SELECT i AS p, cov AS var FROM c WHERE i = j)
SELECT c.i AS dim_i, c.j AS dim_j, CAST(c.n AS BIGINT) AS n,
       CAST(ROUND(CAST(c.cov AS DECIMAL(38,9)), 6) AS DOUBLE) AS cov,
       CAST(ROUND(CAST(c.cov / sqrt(di.var * dj.var)
            AS DECIMAL(38,9)), 6) AS DOUBLE) AS corr
FROM c
JOIN d di ON di.p = c.i
JOIN d dj ON dj.p = c.j
WHERE c.i < c.j
ORDER BY abs(CAST(ROUND(CAST(c.cov / sqrt(di.var * dj.var)
      AS DECIMAL(38,9)), 6) AS DOUBLE)) DESC, dim_i, dim_j
LIMIT {CORR_TOPK}
"""


PCA_K = 4


def embedding_pca_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``PCA_K`` principal-component coordinates of the first 50
    vectors — exact distributed PCA: basis from the dim²-bounded Gram
    grid (driver eigh is O(dim³), O(1) in corpus size), projection as
    one centered matmul per Arrow batch. Rows-only: eigendecomposition
    has no SQL twin; `test_queries.py` pins the coordinates against a
    straight numpy PCA of the collected matrix.
    """
    emb = load(spark, sf_dir, "embeddings")
    proj = pca_project(emb, k=PCA_K)
    return proj.select(
        "vec_id",
        *[r(f"pc{j + 1}", 4).alias(f"pc{j + 1}") for j in range(PCA_K)],
    ).orderBy("vec_id").limit(50)


def pca_explained_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explained-variance spectrum of the embedding space (how many
    components carry the signal — the whitening/compression decision):
    top-2 eigenvalues as percentages of TOTAL variance (= trace of the
    covariance — the denominator the eigh tier used too, since the
    eigenvalue sum equals the trace).

    Since r7 this is EXACT and oracle-twinned: the eigenvalues are the
    two Rayleigh quotients from the mirrored power-iteration + deflation
    ladder (``pca_power_two_components`` — bit-identical trajectories on
    the rounded covariance grid, only outputs rounded), and the trace is
    an ascending fold over the grid diagonal — so DuckDB reproduces the
    whole result by value (was rows-only via LAPACK eigh before; the
    4-component eigh spectrum remains numpy-pinned through
    ``embedding_pca_coords``'s tests). Same scale shape as the power
    queries: one gram pass, dim² driver state, O(1) in corpus size.
    """
    lam1, lam2, tr, n, _v1, _v2, _mean = _power_two_exact(spark, sf_dir)
    out = spark.createDataFrame(
        [(1, lam1, lam1, int(n)), (2, lam2, lam1 + lam2, int(n))],
        "component int, ev double, cum_ev double, n_vecs long",
    )
    # round IN-ENGINE via the decimal route (never Python's banker's
    # round); pct arithmetic mirrored left-associative in the twin
    return out.select(
        "component",
        r(F.col("ev"), 6).alias("eigenvalue"),
        r(F.col("ev") * F.lit(100.0) / F.lit(tr), 4).alias("explained_pct"),
        r(F.col("cum_ev") * F.lit(100.0) / F.lit(tr), 4).alias("cum_pct"),
        "n_vecs",
    )


PCA_PI_ITERS = 24
PCA_PI_SQUARINGS = 5  # iterate on C^32: the synthetic embedding
# spectrum is near-flat (lambda2/lambda1 ~ 0.99), so plain power
# iteration needs hundreds of rounds; 5 mirrored matrix squarings give
# 32x the effective power per iteration (768 total) at O(dim^3) cost


def pca_power_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First principal component via POWER ITERATION on the rounded
    covariance grid — the derandomized oracle-basis sibling of the eigh
    tier (``embedding_pca_coords`` / ``pca_explained_variance`` stay
    rows-only: LAPACK's eigensolver has no SQL twin, but the power
    method is just repeated mat-vec + normalize, every op a mirrorable
    IEEE primitive). Basis: cov(i,j) rounded to 6 decimals via the
    decimal route (the same cross-engine-identical grid
    ``embedding_corr_pairs`` is green on at every SF); from there BOTH
    engines run the SAME exact float64 arithmetic in the SAME fold
    order — 5 matrix squarings (B = C^32, ascending-k left folds), then
    24 iterations of u = Bv (ascending-j left fold per row), norm =
    sqrt(left fold of squares), divide — so no intermediate rounding is
    needed: the trajectories are bit-identical by construction, and
    only the OUTPUT rounds. Eigenvalue = Rayleigh quotient v·Cv of the
    final iterate against the ORIGINAL C; explained ratio = lambda /
    trace(cov).

    Scale shape: the corpus-touching work is one gram_moments pass
    (one numpy matmul per Arrow batch, dim²-bounded shuffle); the
    driver holds only the dim² rounded grid (the documented
    bounded-collect pattern shared with PQ/Lloyd training) and the
    iteration is O(iters * dim²) driver arithmetic — O(1) in corpus
    size. test_queries.py additionally pins the component against
    numpy eigh (cosine > 0.999), so the derandomization is converging
    to the true PC1, not just reproducing itself.
    """
    import math

    partials = materialize(gram_moments(load(spark, sf_dir, "embeddings")))
    cells = partials.filter(F.col("j") >= 0)
    sums = partials.filter(F.col("j") == -1)
    si = sums.select(F.col("i"), F.col("sxy").alias("si"))
    sj = sums.select(F.col("i").alias("j"), F.col("sxy").alias("sj"))
    cov = (
        cells.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .select(
            "i",
            "j",
            r(
                (F.col("sxy") - F.col("si") * F.col("sj") / F.col("n"))
                / (F.col("n") - 1),
                6,
            ).alias("cov"),
        )
    )
    rows = cov.collect()  # bounded: dim²/2 + dim aggregated cells
    dim = max(row["j"] for row in rows) + 1
    C = [[0.0] * dim for _ in range(dim)]
    for row in rows:  # upper triangle in; mirror to full symmetric
        C[row["i"]][row["j"]] = row["cov"]
        C[row["j"]][row["i"]] = row["cov"]

    import numpy as np

    B = np.array(C, dtype=np.float64)
    for _ in range(PCA_PI_SQUARINGS):  # B <- B @ B, ascending-k left fold
        B = _matmul_fold(B, B)

    vv = np.ones(dim, dtype=np.float64)
    for _ in range(PCA_PI_ITERS):
        u = _matvec_fold(B, vv)  # ascending-j left fold == list_sum
        nrm = math.sqrt(np.add.accumulate(u * u)[-1])
        vv = u / nrm
    v = [float(x) for x in vv]
    w = []
    for i in range(dim):
        acc = 0.0
        for j in range(dim):
            acc += C[i][j] * v[j]
        w.append(acc)
    lam = 0.0
    for i in range(dim):
        lam += w[i] * v[i]
    tr = 0.0
    for i in range(dim):
        tr += C[i][i]

    out = spark.createDataFrame(
        [(i, v[i]) for i in range(dim)], "dim_idx long, loading double"
    )
    # round IN-ENGINE (exact raw doubles in, r() both sides) — never in
    # Python, whose round() is banker's, not the decimal route
    return out.select(
        "dim_idx",
        r(F.col("loading"), 6).alias("loading"),
        r(F.lit(lam), 6).alias("eigenvalue"),
        r(F.lit(lam) / F.lit(tr), 6).alias("explained_ratio"),
    )


def _dotfold(a: list, b: list) -> float:
    acc = 0.0
    for x, y in zip(a, b):  # ascending left fold == DuckDB list_sum
        acc += x * y
    return acc


# numpy twins of the ascending-left-fold driver arithmetic. np.ufunc
# .accumulate is SEQUENTIAL by definition (r[i] = op(r[i-1], a[i]) —
# no pairwise blocking, unlike reduce/sum), so taking its last element
# reproduces the exact ((p0+p1)+p2)... float64 chain of the Python
# fold / DuckDB list_sum, while the 64^3-per-squaring multiply loops
# run vectorized instead of interpreted (~0.5 s per PCA builder).
# Bit-equality is pinned by tests/test_queries.py::test_fold_numpy_twins.


def _matmul_fold(A, B):
    import numpy as np

    out = np.empty((A.shape[0], B.shape[1]), dtype=np.float64)
    for i in range(A.shape[0]):
        out[i] = np.add.accumulate(A[i][:, None] * B, axis=0)[-1]
    return out


def _matvec_fold(B, v):
    import numpy as np

    return np.add.accumulate(B * v, axis=1)[:, -1]


def _power_two_exact(spark: SparkSession, sf_dir: str) -> tuple:
    """Shared driver computation behind ``pca_power_two_components`` and
    ``pca_explained_variance``: the rounded covariance grid, two
    mirrored squaring/power-iteration ladders with deflation, Rayleigh
    eigenvalues against the original grid, the trace (ascending-i fold,
    == DuckDB list_sum over the diagonal) and the vector count.

    Every operation and fold order is the one the generated DuckDB CTE
    ladder performs, so from the shared rounded grid the trajectories
    are bit-identical (oracle-parity conventions, plans/base.py).
    Returns ``(lam1, lam2, trace, n_vecs, v1, v2, mean)`` — ``mean`` is
    the per-dimension mean rounded 6 via the decimal route (the same
    shared-basis treatment as the covariance cells; the projection twin
    re-derives it as ROUND(sum/n) from its own scan).
    """
    import math

    partials = materialize(gram_moments(load(spark, sf_dir, "embeddings")))
    cells = partials.filter(F.col("j") >= 0)
    sums = partials.filter(F.col("j") == -1)
    si = sums.select(F.col("i"), F.col("sxy").alias("si"))
    sj = sums.select(F.col("i").alias("j"), F.col("sxy").alias("sj"))
    mean_rows = sums.select(
        "i", r(F.col("sxy") / F.col("n"), 6).alias("mu")
    ).collect()
    mean_by_i = {row["i"]: row["mu"] for row in mean_rows}
    cov = (
        cells.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .select(
            "i",
            "j",
            "n",
            r(
                (F.col("sxy") - F.col("si") * F.col("sj") / F.col("n"))
                / (F.col("n") - 1),
                6,
            ).alias("cov"),
        )
    )
    rows = cov.collect()  # bounded: dim²/2 + dim aggregated cells
    dim = max(row["j"] for row in rows) + 1
    n_vecs = int(rows[0]["n"])
    C = [[0.0] * dim for _ in range(dim)]
    for row in rows:
        C[row["i"]][row["j"]] = row["cov"]
        C[row["j"]][row["i"]] = row["cov"]

    def leading(M: list) -> list:
        import numpy as np

        # the numpy fold twins (sequential accumulate — bit-identical
        # to the per-cell Python fold, vectorized multiplies)
        B = np.array(M, dtype=np.float64)
        for _ in range(PCA_PI_SQUARINGS):
            B = _matmul_fold(B, B)
        v = np.ones(dim, dtype=np.float64)
        for _ in range(PCA_PI_ITERS):
            u = _matvec_fold(B, v)
            nrm = math.sqrt(np.add.accumulate(u * u)[-1])
            v = u / nrm
        return [float(x) for x in v]

    def rayleigh(v: list) -> float:
        lam = 0.0
        for i in range(dim):
            acc = 0.0
            for j in range(dim):
                acc += C[i][j] * v[j]
            lam += acc * v[i]
        return lam

    v1 = leading(C)
    lam1 = rayleigh(v1)
    B1 = [
        [C[i][j] - lam1 * v1[i] * v1[j] for j in range(dim)] for i in range(dim)
    ]
    v2 = leading(B1)
    lam2 = rayleigh(v2)
    tr = 0.0
    for i in range(dim):
        tr += C[i][i]
    mean = [mean_by_i[i] for i in range(dim)]
    return lam1, lam2, tr, n_vecs, v1, v2, mean


def pca_power_two_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 principal components via power iteration + DEFLATION, all
    in mirrored exact arithmetic: PC1 exactly as ``pca_power_component``
    (5 squarings + 24 iterations on the rounded covariance grid), then
    B = C - lambda1 * v1 v1^T (each cell one mult-mult-sub chain, left
    associative on both engines) and the same squaring/iteration ladder
    on B yields PC2; both eigenvalues are Rayleigh quotients against
    the ORIGINAL C. The deflation residual along v1 is
    lambda1*sin^2(theta1) ~ 1e-4*lambda1 at the pinned convergence, far
    under lambda2, so the second ladder converges to the true second
    eigenvector (test-pinned vs numpy eigh: |cos| > 0.99 per component
    and near-orthogonality of the pair). Same scale shape as the PC1
    query: one gram pass, dim^2 driver state, O(iters * dim^2 + dim^3)
    driver arithmetic — O(1) in corpus size.
    """
    lam1, lam2, _tr, _n, v1, v2, _mean = _power_two_exact(spark, sf_dir)
    dim = len(v1)
    out = spark.createDataFrame(
        [(i, v1[i], v2[i]) for i in range(dim)],
        "dim_idx long, pc1 double, pc2 double",
    )
    return out.select(
        "dim_idx",
        r(F.col("pc1"), 6).alias("pc1"),
        r(F.col("pc2"), 6).alias("pc2"),
        r(F.lit(lam1), 6).alias("ev1"),
        r(F.lit(lam2), 6).alias("ev2"),
    )


PCA_COORDS_MAX_ID = 50


def pca_power_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA PROJECTION coordinates on the exact power+deflation basis —
    the oracle-exact sibling of ``embedding_pca_coords``'s projection
    step (which stays rows-only: its basis is LAPACK eigh). The first
    ``PCA_COORDS_MAX_ID`` vectors are projected onto (v1, v2) from the
    mirrored ladder after centering on the rounded per-dimension mean:
    ``pc_k = fold_i (x_i - mean_i) * vk_i`` — subtraction then multiply
    per element, ascending left fold (== DuckDB list_sum of
    list_transform), so from the shared rounded inputs (mean at 6
    decimals, the ladder's full-precision v1/v2, the raw parquet
    floats widened to double) the coordinates are bit-identical and
    only the OUTPUT rounds.

    Scale shape: the basis is the same one gram pass + O(dim²) driver
    state as the other power queries; the projection itself is a
    NARROW per-row expression over broadcast-literal basis arrays (at
    100 TB you project a trillion rows with zero shuffles — this query
    bounds its output to the fixed-ID sample only so the driver compare
    stays small).
    """
    _l1, _l2, _tr, _n, v1, v2, mean = _power_two_exact(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < PCA_COORDS_MAX_ID
    )
    x = F.col("embedding").cast("array<double>")
    mean_lit = F.array(*[F.lit(m) for m in mean])
    centered = F.zip_with(x, mean_lit, lambda a, b: a - b)

    def proj(vec: list) -> F.Column:
        v_lit = F.array(*[F.lit(c) for c in vec])
        return F.aggregate(
            F.zip_with(centered, v_lit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, y: acc + y,
        )

    return emb.select(
        "vec_id",
        r(proj(v1), 4).alias("pc1"),
        r(proj(v2), 4).alias("pc2"),
    )


def _pca_power2_body() -> str:
    """Shared WITH-body of the two-ladder PCA twins: two power-iteration
    ladders as generated CTE chains ending in ``r2`` (columns flat, d,
    nv, v1, lam1, v2, lam2); ``carry`` threads the columns each phase
    must preserve. ``_pca_power2_sql`` and ``_pca_explained_sql`` attach
    different final SELECTs."""
    def ladder(prefix: str, carry: str, mat_src: str, src_cte: str) -> tuple:
        sq = (
            "list_transform(range(0, d * d), p -> list_sum(list_transform("
            "range(0, d), k -> pmat[(p // d) * d + k + 1] * "
            "pmat[k * d + (p % d) + 1])))"
        )
        ctes = [
            f"{prefix}w0 AS (SELECT {carry}, {mat_src} AS pmat FROM {src_cte})"
        ]
        prev = f"{prefix}w0"
        for s in range(1, PCA_PI_SQUARINGS + 1):
            ctes.append(
                f"{prefix}w{s} AS (SELECT {carry}, {sq} AS pmat FROM {prev})"
            )
            prev = f"{prefix}w{s}"
        ctes.append(
            f"{prefix}i0 AS (SELECT {carry}, pmat, "
            f"list_transform(range(0, d), q -> 1.0) AS v FROM {prev})"
        )
        prev = f"{prefix}i0"
        mv = (
            "list_transform(range(0, d), i -> list_sum(list_transform("
            "range(0, d), j -> pmat[i * d + j + 1] * v[j + 1])))"
        )
        for k in range(1, PCA_PI_ITERS + 1):
            ctes.append(
                f"{prefix}i{k}u AS (SELECT {carry}, pmat, {mv} AS u FROM {prev})"
            )
            ctes.append(
                f"{prefix}i{k} AS (SELECT {carry}, pmat, list_transform(u, "
                f"x -> x / sqrt(list_sum(list_transform(u, y -> y * y)))) "
                f"AS v FROM {prefix}i{k}u)"
            )
            prev = f"{prefix}i{k}"
        return ctes, prev

    # Rayleigh quotient of column v against the ORIGINAL grid (flat)
    ray = (
        "list_sum(list_transform(range(0, d), i -> "
        "list_sum(list_transform(range(0, d), j -> "
        "flat[i * d + j + 1] * v[j + 1])) * v[i + 1]))"
    )
    a_ctes, a_fin = ladder("a", "flat, d, nv", "flat", "m")
    defl = (
        "defl AS (SELECT flat, d, nv, v1, lam1, "
        "list_transform(range(0, d * d), p -> "
        "flat[p + 1] - lam1 * v1[p // d + 1] * v1[p % d + 1]) AS dmat "
        "FROM r1)"
    )
    b_ctes, b_fin = ladder("b", "flat, d, nv, v1, lam1", "dmat", "defl")
    all_ctes = ",\n".join(
        a_ctes
        + [f"r1 AS (SELECT flat, d, nv, v AS v1, {ray} AS lam1 FROM {a_fin})", defl]
        + b_ctes
        + [
            f"r2 AS (SELECT flat, d, nv, v1, lam1, v AS v2, {ray} AS lam2 "
            f"FROM {b_fin})"
        ]
    )
    return f"""
WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
x AS (
  SELECT v[i] AS xi, v[j] AS xj, i - 1 AS i, j - 1 AS j
  FROM e,
       UNNEST(range(1, len(v) + 1)) AS ri(i),
       UNNEST(range(1, len(v) + 1)) AS rj(j)
),
g AS (
  SELECT i, j, SUM(xi * xj) AS sxy, SUM(xi) AS sxi, SUM(xj) AS sxj,
         COUNT(*) AS n
  FROM x GROUP BY 1, 2
),
c AS (
  SELECT i, j, n,
         CAST(ROUND(CAST((sxy - sxi * sxj / n) / (n - 1) AS DECIMAL(38,9)), 6)
              AS DOUBLE) AS cov
  FROM g
),
m AS (SELECT list(cov ORDER BY i, j) AS flat, CAST(MAX(i) + 1 AS INTEGER) AS d,
             CAST(MAX(n) AS BIGINT) AS nv FROM c),
{all_ctes}"""


def _pca_power2_sql() -> str:
    return f"""{_pca_power2_body()}
SELECT CAST(i AS BIGINT) AS dim_idx,
       CAST(ROUND(CAST(v1[i + 1] AS DECIMAL(38,9)), 6) AS DOUBLE) AS pc1,
       CAST(ROUND(CAST(v2[i + 1] AS DECIMAL(38,9)), 6) AS DOUBLE) AS pc2,
       CAST(ROUND(CAST(lam1 AS DECIMAL(38,9)), 6) AS DOUBLE) AS ev1,
       CAST(ROUND(CAST(lam2 AS DECIMAL(38,9)), 6) AS DOUBLE) AS ev2
FROM r2, UNNEST(range(0, d)) AS u(i)
"""


def _pca_explained_sql() -> str:
    # trace = ascending fold over the grid diagonal (list_sum == the
    # Python loop); pct arithmetic left-associative with a DOUBLE-cast
    # literal (a bare 100.0 would route DuckDB into DECIMAL arithmetic)
    return f"""{_pca_power2_body()},
fin AS (
  SELECT nv, lam1, lam2,
         list_sum(list_transform(range(0, d), i -> flat[i * d + i + 1])) AS tr
  FROM r2
)
SELECT CAST(component AS INTEGER) AS component,
       CAST(ROUND(CAST(CASE WHEN component = 1 THEN lam1 ELSE lam2 END
            AS DECIMAL(38,9)), 6) AS DOUBLE) AS eigenvalue,
       CAST(ROUND(CAST((CASE WHEN component = 1 THEN lam1 ELSE lam2 END)
            * CAST(100.0 AS DOUBLE) / tr
            AS DECIMAL(38,9)), 4) AS DOUBLE) AS explained_pct,
       CAST(ROUND(CAST((CASE WHEN component = 1 THEN lam1 ELSE lam1 + lam2 END)
            * CAST(100.0 AS DOUBLE) / tr
            AS DECIMAL(38,9)), 4) AS DOUBLE) AS cum_pct,
       nv AS n_vecs
FROM fin, UNNEST([1, 2]) AS u(component)
"""


def _pca_coords_sql() -> str:
    # mean_i = ROUND(sum/n, 6) via the decimal route (same shared-basis
    # treatment as the covariance cells — g's sxi for i==j is the plain
    # per-dimension sum); projection = subtraction-then-multiply per
    # element, ascending list_sum fold == Spark F.aggregate
    return f"""{_pca_power2_body()},
mn AS (
  SELECT i,
         CAST(ROUND(CAST(sxi / n AS DECIMAL(38,9)), 6) AS DOUBLE) AS mu
  FROM g WHERE i = j
),
ml AS (SELECT list(mu ORDER BY i) AS mean FROM mn),
q AS (
  SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings
  WHERE vec_id < {PCA_COORDS_MAX_ID}
)
SELECT q.vec_id,
       CAST(ROUND(CAST(list_sum(list_transform(range(1, d + 1),
            i -> (x[i] - mean[i]) * v1[i])) AS DECIMAL(38,9)), 4)
            AS DOUBLE) AS pc1,
       CAST(ROUND(CAST(list_sum(list_transform(range(1, d + 1),
            i -> (x[i] - mean[i]) * v2[i])) AS DECIMAL(38,9)), 4)
            AS DOUBLE) AS pc2
FROM q, r2, ml
"""


PCA_POWER_TWO_COMPONENTS_SQL = _pca_power2_sql()
PCA_EXPLAINED_VARIANCE_SQL = _pca_explained_sql()
PCA_POWER_COORDS_SQL = _pca_coords_sql()


def _pca_power_sql() -> str:
    # 5 matrix squarings: pw{s} carries flat (the original C, for the
    # Rayleigh step) and pmat (C^(2^s)) as a flat row-major list
    sq = "list_transform(range(0, d * d), p -> list_sum(list_transform(" \
         "range(0, d), k -> pmat[(p // d) * d + k + 1] * pmat[k * d + (p % d) + 1])))"
    its = ["pw0 AS (SELECT flat, d, flat AS pmat FROM m)"]
    prev = "pw0"
    for s in range(1, PCA_PI_SQUARINGS + 1):
        its.append(f"pw{s} AS (SELECT flat, d, {sq} AS pmat FROM {prev})")
        prev = f"pw{s}"
    its.append(
        f"it0 AS (SELECT flat, d, pmat, "
        f"list_transform(range(0, d), q -> 1.0) AS v FROM {prev})"
    )
    prev = "it0"
    matvec_b = (
        "list_transform(range(0, d), i -> list_sum(list_transform("
        "range(0, d), j -> pmat[i * d + j + 1] * v[j + 1])))"
    )
    for k in range(1, PCA_PI_ITERS + 1):
        its.append(
            f"it{k}u AS (SELECT flat, d, pmat, {matvec_b} AS u FROM {prev})"
        )
        its.append(
            f"it{k} AS (SELECT flat, d, pmat, list_transform(u, x -> x / "
            f"sqrt(list_sum(list_transform(u, y -> y * y)))) AS v FROM it{k}u)"
        )
        prev = f"it{k}"
    return f"""
WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
x AS (
  SELECT v[i] AS xi, v[j] AS xj, i - 1 AS i, j - 1 AS j
  FROM e,
       UNNEST(range(1, len(v) + 1)) AS ri(i),
       UNNEST(range(1, len(v) + 1)) AS rj(j)
),
g AS (
  SELECT i, j, SUM(xi * xj) AS sxy, SUM(xi) AS sxi, SUM(xj) AS sxj,
         COUNT(*) AS n
  FROM x GROUP BY 1, 2
),
c AS (
  SELECT i, j,
         CAST(ROUND(CAST((sxy - sxi * sxj / n) / (n - 1) AS DECIMAL(38,9)), 6)
              AS DOUBLE) AS cov
  FROM g
),
m AS (SELECT list(cov ORDER BY i, j) AS flat, CAST(MAX(i) + 1 AS INTEGER) AS d FROM c),
{",".join(its)},
fin AS (
  SELECT d, v,
         list_transform(range(0, d), i -> list_sum(list_transform(
           range(0, d), j -> flat[i * d + j + 1] * v[j + 1]))) AS w,
         list_sum(list_transform(range(0, d), i -> flat[i * d + i + 1])) AS tr
  FROM {prev}
),
fin2 AS (
  SELECT d, v, tr,
         list_sum(list_transform(range(0, d), i -> w[i + 1] * v[i + 1])) AS lam
  FROM fin
)
SELECT CAST(i AS BIGINT) AS dim_idx,
       CAST(ROUND(CAST(v[i + 1] AS DECIMAL(38,9)), 6) AS DOUBLE) AS loading,
       CAST(ROUND(CAST(lam AS DECIMAL(38,9)), 6) AS DOUBLE) AS eigenvalue,
       CAST(ROUND(CAST(lam / tr AS DECIMAL(38,9)), 6) AS DOUBLE) AS explained_ratio
FROM fin2, UNNEST(range(0, d)) AS u(i)
"""


PCA_POWER_COMPONENT_SQL = _pca_power_sql()


def nearest_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification of every embedding against the
    per-label centroids, reported as a confusion matrix (true label ×
    predicted label × count) — the quick label-separability eval an
    embedding pipeline runs before trusting labels for SemDeDup-style
    pruning or stratified sampling.

    Scale shape: identical machinery to ``cluster_quality_metrics`` —
    centroids via posexplode → (label, dim) hash agg with per-dim
    decimal rounding (both engines see bit-identical centroids, so the
    argmin cannot flip on ulp noise), broadcast packed-centroid row,
    narrow per-vector distance projection. The argmin is an array-min
    over (dist, label) structs (deterministic label tie-break); the
    confusion matrix agg is |labels|² wide.
    """
    emb = load(spark, sf_dir, "embeddings")
    cent = (
        emb.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "pos", "val"
            ),
        )
        .groupBy("label", "pos")
        .agg(r(F.avg("val"), 6).alias("cv"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                lambda s: s["cv"],
            ).alias("cvec")
        )
        .select(F.col("label").alias("c_label"), "cvec")
    )
    pack = cent.groupBy().agg(
        F.collect_list(F.struct("c_label", "cvec")).alias("_cs")
    )
    dist_to = lambda cv: F.sqrt(dist2_raw(F.col("v"), cv))  # noqa: E731
    pred = (
        emb.select(
            "label", F.col("embedding").cast("array<double>").alias("v")
        )
        .crossJoin(F.broadcast(pack))
        .select(
            "label",
            F.array_min(
                F.transform(
                    "_cs",
                    lambda c: F.struct(
                        dist_to(c["cvec"]).alias("d"),
                        c["c_label"].alias("cl"),
                    ),
                )
            )["cl"].alias("pred_label"),
        )
    )
    return pred.groupBy("label", "pred_label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )


NEAREST_CENTROID_CONFUSION_SQL = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
x AS (
  SELECT label, UNNEST(v) AS val, UNNEST(range(1, len(v) + 1)) AS pos FROM e
),
cd AS (
  SELECT label AS c_label, pos,
         CAST(ROUND(CAST(AVG(val) AS DECIMAL(38,9)), 6) AS DOUBLE) AS cv
  FROM x GROUP BY label, pos
),
c AS (SELECT c_label, list(cv ORDER BY pos) AS cvec FROM cd GROUP BY c_label),
d AS (
  SELECT e.vec_id, e.label, c.c_label,
         sqrt(list_sum(list_transform(range(1, len(e.v) + 1),
              i -> (e.v[i] - c.cvec[i]) * (e.v[i] - c.cvec[i])))) AS dist
  FROM e, c
),
pv AS (
  SELECT vec_id, label, c_label,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, c_label) AS rn
  FROM d
)
SELECT label, c_label AS pred_label, CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM pv WHERE rn = 1
GROUP BY 1, 2
"""


CLUSTER_QUALITY_METRICS_SQL = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
x AS (
  SELECT label, UNNEST(v) AS val, UNNEST(range(1, len(v) + 1)) AS pos FROM e
),
cd AS (
  SELECT label AS c_label, pos,
         CAST(ROUND(CAST(AVG(val) AS DECIMAL(38,9)), 6) AS DOUBLE) AS cv
  FROM x GROUP BY label, pos
),
c AS (SELECT c_label, list(cv ORDER BY pos) AS cvec FROM cd GROUP BY c_label),
d AS (
  SELECT e.vec_id, e.label, c.c_label,
         sqrt(list_sum(list_transform(range(1, len(e.v) + 1),
              i -> (e.v[i] - c.cvec[i]) * (e.v[i] - c.cvec[i])))) AS dist
  FROM e, c
),
pv AS (
  SELECT vec_id, label,
         MAX(CASE WHEN c_label = label THEN dist END) AS a,
         MIN(CASE WHEN c_label != label THEN dist END) AS b
  FROM d GROUP BY vec_id, label
),
s AS (
  SELECT label, a, b,
         CASE WHEN GREATEST(a, b) > 0 THEN (b - a) / GREATEST(a, b)
              ELSE 0.0 END AS sil
  FROM pv
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(ROUND(CAST(AVG(a) AS DECIMAL(38,9)), 4) AS DOUBLE) AS mean_intra,
       CAST(ROUND(CAST(AVG(b) AS DECIMAL(38,9)), 4) AS DOUBLE) AS mean_nearest_other,
       CAST(ROUND(CAST(AVG(sil) AS DECIMAL(38,9)), 4) AS DOUBLE) AS mean_silhouette
FROM s GROUP BY label
"""


# --- MinHash estimate vs exact Jaccard calibration -----------------------------

def minhash_jaccard_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash similarity ESTIMATE vs exact Jaccard per document pair —
    the calibration report that justifies trusting the sketch at scale
    (|est - exact| concentrates as O(1/sqrt(k))). Hash functions are
    DERANDOMIZED to the md5 basis — one digest per (salt, token) yields
    four independent u32 draws (substr windows 1/9/17/25, len 8), so 16
    permutations cost 4 md5s — giving the whole sketch an exact DuckDB
    twin: the hash match pins the per-permutation minima, the
    estimator, and the exact-Jaccard reference together. The scale tier
    (xxhash64 permutations + LSH banding, never all-pairs) is
    operators/dedup.py; the registered pair stage here is an
    oracle-budget all-pairs sample (doc_id < {max_id}), the same
    convention as ``jaccard_neardup_pairs``.

    Scale shape of the sketch itself: tokens materialize once, the 4
    digest arrays materialize as columns (HOF lambdas capture only
    bare attributes — the zipped_ngrams discipline), and each of the
    16 minima is one array_min — narrow, no shuffle.
    """
    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < MHJ_SAMPLE_MAX_ID
    )
    sk = _md5_minhash_sketch(docs)
    # SQL-text renames and the 16-term match sum parsed once each (the
    # simhash lesson): the Column formulation was ~100 py4j round-trips
    a = sk.select(
        F.expr("doc_id AS id_a"),
        F.expr("toks AS ta"),
        *[F.expr(f"mh{k} AS a{k}") for k in range(MHJ_PERMS)],
    )
    b = sk.select(
        F.expr("doc_id AS id_b"),
        F.expr("toks AS tb"),
        *[F.expr(f"mh{k} AS b{k}") for k in range(MHJ_PERMS)],
    )
    inter = F.size(F.array_intersect(F.col("ta"), F.col("tb")))
    union = F.size(F.col("ta")) + F.size(F.col("tb")) - inter
    matches = F.expr(
        " + ".join(
            f"(CASE WHEN a{k} = b{k} THEN 1 ELSE 0 END)"
            for k in range(MHJ_PERMS)
        )
    )
    pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("_inter", inter)
        .withColumn("_union", union)
        .filter(F.col("_inter") * 20 >= F.col("_union") * MHJ_MIN_INTER_X20)
        .withColumn("_matches", matches)
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.col("_matches").cast("long").alias("mh_matches"),
        r(F.col("_matches").cast("double") / MHJ_PERMS, 4).alias("est_jaccard"),
        r(F.col("_inter").cast("double") / F.col("_union"), 4).alias("exact_jaccard"),
        r(
            F.abs(
                F.col("_matches").cast("double") / MHJ_PERMS
                - F.col("_inter").cast("double") / F.col("_union")
            ),
            4,
        ).alias("abs_err"),
    )


def _mhj_sql() -> str:
    digs = _MHJ_DIGS_SQL
    mins = _MHJ_MINS_SQL
    matches = " + ".join(
        f"CASE WHEN a.mh{k} = b.mh{k} THEN 1 ELSE 0 END" for k in range(MHJ_PERMS)
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         list_distinct(string_split_regex(trim(lower(COALESCE(text, ''))),
                                          '\\s+')) AS toks
  FROM documents WHERE doc_id < {MHJ_SAMPLE_MAX_ID}
),
dig AS (
  SELECT doc_id, toks,
         {digs}
  FROM base
),
sk AS (
  SELECT doc_id, toks,
         {mins}
  FROM dig
),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.toks, b.toks)) AS inter,
         len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS un,
         ({matches}) AS matches
  FROM sk a JOIN sk b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(matches AS BIGINT) AS mh_matches,
       CAST(ROUND(CAST(CAST(matches AS DOUBLE) / {MHJ_PERMS}
            AS DECIMAL(38,9)), 4) AS DOUBLE) AS est_jaccard,
       CAST(ROUND(CAST(CAST(inter AS DOUBLE) / un
            AS DECIMAL(38,9)), 4) AS DOUBLE) AS exact_jaccard,
       CAST(ROUND(CAST(abs(CAST(matches AS DOUBLE) / {MHJ_PERMS}
            - CAST(inter AS DOUBLE) / un)
            AS DECIMAL(38,9)), 4) AS DOUBLE) AS abs_err
FROM p WHERE inter * 20 >= un * {MHJ_MIN_INTER_X20}
"""


MINHASH_JACCARD_CALIBRATION_SQL = _mhj_sql()


QUERIES: list[Query] = [
    Query("embedding_norms", embedding_norms, EMBEDDING_NORMS_SQL,
          ("similarity_search_topk",), "L2 norms via zip_with/aggregate"),
    Query("embedding_topk_cosine", embedding_topk_cosine, EMBEDDING_TOPK_COSINE_SQL,
          ("similarity_search_topk",), "brute-force cosine top-k"),
    Query("embedding_batch_topk", embedding_batch_topk, EMBEDDING_BATCH_TOPK_SQL,
          ("similarity_search_topk",),
          "multi-query cosine top-k via two-stage partial top-k merge"),
    Query("quantized_topk_cosine", quantized_topk_cosine, QUANTIZED_TOPK_COSINE_SQL,
          ("similarity_search_topk",),
          "int8-quantized cosine top-k (oracle re-implements the quantizer)"),
    Query("embedding_neardup_pairs", embedding_neardup_pairs_sampled,
          EMBEDDING_NEARDUP_PAIRS_SAMPLED_SQL,
          ("near_dedup", "similarity_search_topk"),
          "all-pairs cosine near-dups (exact, sampled)"),
    Query("semantic_dedup_pairs", semantic_dedup_pairs_q,
          SEMANTIC_DEDUP_PAIRS_SQL,
          ("near_dedup", "similarity_search_topk"),
          "SemDeDup: cluster-pruned semantic near-dup pairs, "
          "exact-verified (oracle covers assignment + pairing + verify)"),
    Query("multimodal_binary_meta", multimodal_binary_meta, MULTIMODAL_BINARY_META_SQL,
          ("multimodal_columns",), "binary column + typed metadata"),
    Query("image_neardup_pairs", image_neardup_pairs_q, None,
          ("multimodal_columns", "near_dedup"),
          "perceptual-hash (banded aHash) image near-dup pairs over real "
          "PPM decode (rows-only: numpy-RNG pixels)"),
    Query("image_neardup_pairs_exact", image_neardup_pairs_exact,
          IMAGE_NEARDUP_PAIRS_EXACT_SQL,
          ("multimodal_columns", "near_dedup"),
          "the same pipeline on md5 pixels + integer aHash: PPM "
          "encode/decode roundtrip, banding and hamming verify all "
          "hash-pinned by an exact DuckDB twin"),
    Query("audio_fingerprint_exact", audio_fingerprint_exact,
          AUDIO_FINGERPRINT_EXACT_SQL,
          ("multimodal_columns",),
          "md5 PCM -> WAV encode/decode roundtrip -> integer audio "
          "features (zero crossings, energy, peak, band-energy "
          "fingerprint), all hash-pinned by an exact DuckDB twin"),
    Query("cross_shard_neardup_probe", cross_shard_neardup_probe,
          CROSS_SHARD_NEARDUP_PROBE_SQL,
          ("near_dedup",),
          "incremental dedup probe: new shard's md5-sketch bands vs the "
          "indexed corpus (degenerate buckets capped), matching-minima "
          "estimator read off the carried sketch structs"),
    Query("hybrid_search_rrf", hybrid_search_rrf, HYBRID_SEARCH_RRF_SQL,
          ("similarity_search_topk", "text_analysis"),
          "hybrid retrieval: keyword tf + vector cosine fused by "
          "reciprocal rank fusion"),
    Query("hard_negatives_topk", hard_negatives_topk, HARD_NEGATIVES_TOPK_SQL,
          ("similarity_search_topk",),
          "contrastive hard negatives: per-query top-k most-similar "
          "different-label vectors"),
    Query("mmr_diversified_topk", mmr_diversified_topk,
          MMR_DIVERSIFIED_TOPK_SQL,
          ("similarity_search_topk",),
          "maximal-marginal-relevance diversity re-rank of the top-20 "
          "pool (greedy trajectory reproduced by an unrolled CTE twin)"),
    Query("cluster_quality_metrics", cluster_quality_metrics,
          CLUSTER_QUALITY_METRICS_SQL,
          ("similarity_search_topk",),
          "per-label centroid/silhouette clustering-quality report "
          "(decides SemDeDup cluster-prune usability)"),
    Query("nearest_centroid_confusion", nearest_centroid_confusion,
          NEAREST_CENTROID_CONFUSION_SQL,
          ("similarity_search_topk",),
          "nearest-centroid classification confusion matrix over the "
          "embedding labels (broadcast rounded centroids, narrow argmin)"),
    Query("embedding_corr_pairs", embedding_corr_pairs,
          EMBEDDING_CORR_PAIRS_SQL,
          ("similarity_search_topk",),
          "top correlated dimension pairs via numpy Gram-matrix "
          "partials (mapInPandas; shuffle bounded at dim^2 rows — the "
          "distributed-PCA input path)"),
    Query("retrieval_rank_overlap", retrieval_rank_overlap,
          RETRIEVAL_RANK_OVERLAP_SQL,
          ("similarity_search_topk",),
          "overlap@k / Jaccard@k agreement between the keyword and "
          "vector rankers (the should-I-fuse diagnostic)"),
    Query("embedding_pca_coords", embedding_pca_coords, None,
          ("similarity_search_topk",),
          "exact distributed PCA projection: dim^2-bounded Gram grid, "
          "O(1)-in-corpus driver eigh, one centered matmul per batch "
          "(rows-only; numpy-pinned)"),
    Query("pca_explained_variance", pca_explained_variance,
          PCA_EXPLAINED_VARIANCE_SQL,
          ("similarity_search_topk",),
          "top-2 explained-variance spectrum: Rayleigh eigenvalues from "
          "the mirrored power+deflation ladder over the grid trace — "
          "exact DuckDB twin (was rows-only eigh until r7)"),
    Query("pca_power_component", pca_power_component,
          PCA_POWER_COMPONENT_SQL,
          ("similarity_search_topk",),
          "first principal component by power iteration on the rounded "
          "covariance grid — 24 mirrored mat-vec/normalize rounds, "
          "bit-identical trajectories, exact DuckDB twin (the "
          "derandomized sibling of the eigh tier)"),
    Query("pca_power_two_components", pca_power_two_components,
          PCA_POWER_TWO_COMPONENTS_SQL,
          ("similarity_search_topk",),
          "top-2 PCA via power iteration + mirrored deflation "
          "(B = C - l1 v1 v1^T), both Rayleigh eigenvalues against the "
          "original grid — exact DuckDB twin"),
    Query("pca_power_coords", pca_power_coords, PCA_POWER_COORDS_SQL,
          ("similarity_search_topk",),
          "PCA projection coordinates on the exact ladder basis: "
          "center on the rounded mean, fold (x-mu)*v ascending — the "
          "oracle-exact sibling of embedding_pca_coords' projection "
          "step (narrow per-row expression, zero shuffles at any "
          "corpus size)"),
    Query("approx_distinct_users", approx_distinct_users, None,
          ("approx_distinct_nodes",), "HLL++ approx distinct (rows-only)"),
    Query("approx_value_percentiles", approx_value_percentiles, None,
          ("approx_distinct_nodes", "per_node_stats"),
          "GK-sketch approx percentiles (rows-only)"),
    Query("frequent_event_props", frequent_event_props, None,
          ("approx_distinct_nodes",), "freqItems heavy hitters (rows-only)"),
    Query("minhash_neardup_candidates", minhash_neardup_candidates,
          MINHASH_NEARDUP_CANDIDATES_SQL,
          ("near_dedup",),
          "MinHash-LSH banded candidates on the derandomized md5 "
          "sketch (oracle pins sketch + banding + pair generation)"),
    Query("minhash_verified_neardups", minhash_verified_neardups,
          _MINHASH_VERIFIED_SQL,
          ("near_dedup",),
          "LSH candidates + exact Jaccard verify (oracle: exact all-pairs on sample)"),
    Query("ml_minhash_neardups", ml_minhash_neardups, None,
          ("near_dedup",), "Spark ML MinHashLSH approxSimilarityJoin (rows-only)"),
    Query("minhash_jaccard_calibration", minhash_jaccard_calibration,
          MINHASH_JACCARD_CALIBRATION_SQL,
          ("near_dedup",),
          "MinHash estimate vs exact Jaccard per pair on the "
          "derandomized md5 basis (oracle pins minima + estimator)"),
    Query("neardup_pagerank", neardup_pagerank_q, _NEARDUP_PAGERANK_SQL,
          ("near_dedup",),
          "fixed-3-iteration PageRank centrality over the near-dup graph"),
    Query("quality_survivor_docs", quality_survivor_docs, _QUALITY_SURVIVOR_SQL,
          ("near_dedup", "exact_dedup"),
          "quality-aware (longest-doc) canonical survivor per "
          "transitive near-dup cluster"),
    Query("neardup_components", neardup_components_q, _NEARDUP_COMPONENTS_SQL,
          ("near_dedup",),
          "transitive dedup clusters via alternating-star connected components "
          "(oracle: recursive-CTE closure over exact pairs)"),
    Query("delta_neardup_pairs", delta_neardup_pairs_q, _DELTA_NEARDUP_SQL,
          ("near_dedup",),
          "incremental batch-vs-index near-dedup (probe LSH index + "
          "batch-internal buckets, exact-verify touched docs only)"),
    Query("simhash_dedup_buckets", simhash_dedup_buckets,
          SIMHASH_DEDUP_BUCKETS_SQL,
          ("near_dedup",),
          "64-bit SimHash + band keys on the derandomized md5 basis "
          "(oracle pins the majority-vote/mask/banding math)"),
    Query("ann_ivf_topk", ann_ivf_topk, ANN_IVF_TOPK_SQL,
          ("similarity_search_topk",),
          "IVF-partitioned ANN top-k (oracle covers assignment + probe "
          "+ re-rank)"),
    Query("ann_kmeans_ivf_topk", ann_kmeans_ivf_topk, ANN_KMEANS_IVF_TOPK_SQL,
          ("similarity_search_topk",),
          "trained-centroid IVF top-k (oracle unrolls the deterministic "
          "Lloyd's training loop)"),
    Query("ann_pq_topk", ann_pq_topk, ANN_PQ_TOPK_SQL,
          ("similarity_search_topk",),
          "derandomized product-quantization ADC top-k + exact re-rank "
          "(oracle unrolls 4 subspace Lloyd codebooks, encoding, ADC)"),
    Query("embedding_lsh_neardup_pairs", embedding_lsh_neardup_pairs,
          EMBEDDING_LSH_NEARDUP_PAIRS_SQL,
          ("near_dedup", "similarity_search_topk"),
          "sign-LSH pruned + exactly verified cosine near-dups on "
          "derandomized md5 planes (oracle covers prune + verify)"),
    Query("semantic_contaminated_evals", semantic_contaminated_evals,
          SEMANTIC_CONTAMINATED_EVALS_SQL,
          ("near_dedup", "similarity_search_topk"),
          "semantic eval-set decontamination: LSH-pruned eval x train "
          "cosine, per-eval strongest-neighbor contamination report "
          "(oracle mirrors split, planes, banding, cap)"),
    Query("semantic_contaminated_evals_strict",
          semantic_contaminated_evals_strict,
          SEMANTIC_CONTAMINATED_EVALS_STRICT_SQL,
          ("near_dedup", "similarity_search_topk"),
          "production-threshold (>=0.9) decontamination report: sharp "
          "10-bit bands from a precomputed literal sign matrix, "
          "bipartite band join, per-eval candidate/contamination "
          "counts (oracle re-derives the signs in SQL — parity pins "
          "the precompute-vs-in-plan equivalence)"),
    Query("decon_index_report", decon_index_report,
          DECON_INDEX_REPORT_SQL,
          ("near_dedup", "similarity_search_topk"),
          "the persisted decon index's full lifecycle (staged build "
          "over 2/3 of train, append-extend with the rest, "
          "broadcast-probed eval probe) returning the candidate-pair "
          "report — the DuckDB twin hashes the parquet round-trip, "
          "not just the banding math"),
    Query("minhash_index_report", minhash_index_report,
          MINHASH_INDEX_REPORT_SQL,
          ("near_dedup",),
          "the persisted MinHash index's full lifecycle on its "
          "oracle-twinned md5 sketch tier (staged build over half the "
          "indexed corpus, sigs-before-bands append-extend with the "
          "rest, broadcast-probed shard report) — the twin makes no "
          "build/extend distinction, so append-extend must be "
          "invisible in the hash"),
    Query("ivf_index_topk", ivf_index_topk, IVF_INDEX_TOPK_SQL,
          ("similarity_search_topk",),
          "the persisted IVF index's full lifecycle (staged "
          "train+build over the base corpus, frozen-centroid "
          "append-extend, partition-pruned probe + exact cosine "
          "re-rank) — the twin trains on the base subset only, so "
          "the hash pins frozen-extend semantics"),
    Query("hyperplane_lsh_bucket_sizes", hyperplane_lsh_bucket_sizes,
          HYPERPLANE_LSH_BUCKET_SIZES_SQL,
          ("similarity_search_topk", "near_dedup"),
          "sign-LSH bucket occupancy on derandomized md5 planes "
          "(oracle pins projections + bit packing)"),
    Query("standardized_embedding_probe", standardized_embedding_probe,
          STANDARDIZED_EMBEDDING_PROBE_SQL,
          ("similarity_search_topk",),
          "per-dim z-scoring: constant-width stats shuffle + narrow "
          "transform application (bounded driver collect)"),
]
