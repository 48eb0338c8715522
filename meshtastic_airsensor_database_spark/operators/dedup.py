"""Deduplication operators (SURVEY.md §2.11 exact_dedup / near_dedup).

Four tiers, all built-in expressions (no Python in the row path):

1. exact            — hash-groupBy on a content fingerprint.
2. MinHash + LSH    — shingle -> P minhashes -> banded bucket join;
                      the pair space shrinks from O(n^2) to colliding
                      buckets only. THE scale path for near-dedup.
3. SimHash          — 64-bit sign-of-weighted-bits signature; near-dups
                      share prefixes/bands (Hamming proximity).
4. n-gram Jaccard   — exact similarity, used to VERIFY candidates from
                      (2)/(3) (and directly at small scale).

Packet-stream exact dedup (MQTT at-least-once + mesh re-broadcast,
packet ``id`` field AIRWISEv1.py:48) is ``dropDuplicates(["id"])`` /
``dropDuplicatesWithinWatermark`` in streaming/ingest.py.

At 100 TB: stage 1/2/3 are scan + narrow transforms + ONE shuffle on
(band_idx, band_hash) whose fan-in is bounded by bucket size; the
verify join only touches candidate pairs. Skewed buckets (e.g. empty
docs) are capped by ``MAX_BUCKET`` salting guard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import doc_fingerprint_md5, word_shingles
from ..io_utils import fan_out

N_PERMUTATIONS = 32
N_BANDS = 8  # 8 bands x 4 rows: P(collide) ~= 1-(1-s^4)^8; s=.8 -> .985
ROWS_PER_BAND = N_PERMUTATIONS // N_BANDS
MAX_BUCKET = 1000  # guard: buckets larger than this are degenerate (boilerplate)


def exact_dedup(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Keep the min-id survivor per distinct content.

    Groups on the 16-byte md5 fingerprint so the shuffle never carries
    document bodies.
    """
    return (
        df.select(
            doc_fingerprint_md5(F.col(content_col)).alias("fingerprint"),
            F.col(id_col).alias("keep_id"),
        )
        .groupBy("fingerprint")
        .agg(F.min("keep_id").alias("keep_id"), (F.count("*") - 1).alias("n_duplicates"))
    )


# Universal-hash family for permutation simulation: h_p(x) = (a_p*x + b_p) mod P
# over x = xxhash64(shingle) mod P. P < 2^31 keeps a_p*x < 2^62 (no ANSI
# long-overflow), and hashing each shingle STRING once (not once per
# permutation) cuts the dominant cost 32x.
_MINHASH_P = 2_147_483_647  # Mersenne prime 2^31-1


# --- derandomized md5 MinHash sketch (the ORACLE-TWINNED tier) ----------------
# xxhash64 has no DuckDB counterpart, so everything built on the scale
# sketch above is pytest-verified; this md5 sketch is engine-neutral —
# one digest per (salt, element) yields four independent u32 draws, so
# 16 permutations cost 4 md5s — and every structure derived from it
# (banding, matching-minima estimator) has an exact SQL twin. Shared
# home since r11 (plans/vectorq.py's calibration/candidate queries and
# operators/dedup_index.py's md5 index tier import from here).

MHJ_PERMS = 16  # 4 md5 digests x 4 u32 windows per token
MHJ_SALTS = [f"mhj{g}" for g in range(MHJ_PERMS // 4)]
MH_CAND_BANDS = 4  # 16 permutations -> 4 bands of 4 minima


def md5_minhash_sketch(
    docs: DataFrame,
    basis: str = "tokens",
    id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """(id, toks, mh0..mh15): the derandomized-md5 MinHash sketch. The
    set basis is ``tokens`` (calibration: duplicate-heavy sets give the
    estimator a full similarity spread) or 3-word ``shingles``
    (candidates: near-unique per doc, so banding is selective — the
    same basis the xxhash64 scale tier uses). Elements materialize
    once; every HOF lambda captures only bare attributes (the
    zipped_ngrams discipline)."""
    from ..functions.text import tokens, word_shingles

    if basis == "shingles":
        elems = word_shingles(F.col(content_col), 3)
    else:
        elems = F.array_distinct(
            tokens(F.coalesce(F.col(content_col), F.lit("")))
        )
    base = fan_out(docs).select(F.col(id_col).alias("doc_id"), elems.alias("_toks"))

    # SQL-text expressions parsed by one F.expr each, not nested py4j
    # Column calls (the simhash/sign-matrix lesson): 4 digest arrays +
    # 16 window minima built as Columns cost hundreds of driver
    # round-trips per sketch construction
    dig_cols = [
        F.expr(f"transform(_toks, t -> md5(concat('{salt}:', t))) AS _dig{g}")
        for g, salt in enumerate(MHJ_SALTS)
    ]
    base = base.select("doc_id", "_toks", *dig_cols)
    mh_cols = [
        F.expr(
            f"array_min(transform(_dig{g}, d -> "
            f"CAST(conv(substr(d, {1 + 8 * w}, 8), 16, 10) AS BIGINT))) "
            f"AS mh{4 * g + w}"
        )
        for g in range(len(MHJ_SALTS))
        for w in range(4)
    ]
    return base.select("doc_id", F.col("_toks").alias("toks"), *mh_cols)


def _perm_params(n_perm: int) -> list[tuple[int, int]]:
    # deterministic LCG-derived (a, b) pairs, a != 0
    params = []
    state = 88172645463325252
    for _ in range(n_perm):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = state % (_MINHASH_P - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _MINHASH_P
        params.append((a, b))
    return params


def minhash_signature_df(
    df: DataFrame, id_col: str, content_col: str, n_perm: int = N_PERMUTATIONS
) -> DataFrame:
    """(id, sig array<long>) via explode + hash aggregate — the scale shape.

    A column formulation (one ``array_min(transform(shingles, ...))``
    per permutation) gets its shingle subexpression inlined once per
    permutation by Catalyst (no CSE across array elements) — quadratic
    blowup. Exploding shingles and
    running ``n_perm`` MIN aggregates hashes each shingle exactly once
    and shuffles only (id, n_perm longs).
    """
    sh = fan_out(df).select(
        F.col(id_col).alias("_id"),
        F.explode(word_shingles(F.col(content_col), 3)).alias("_s"),
    )
    hashed = sh.select("_id", F.pmod(F.xxhash64("_s"), F.lit(_MINHASH_P)).alias("_x"))
    # SQL text parsed once per aggregate (the simhash lesson): n_perm
    # Column chains are ~6 py4j round-trips each, per query build
    aggs = [
        F.expr(f"MIN((_x * {a} + {b}) % {_MINHASH_P}) AS _m{p}")
        for p, (a, b) in enumerate(_perm_params(n_perm))
    ]
    sig = F.expr(
        "array(" + ",".join(f"_m{p}" for p in range(n_perm)) + ") AS sig"
    )
    return hashed.groupBy("_id").agg(*aggs).select("_id", sig)


def minhash_bands(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """id -> (band_idx, band_hash) rows; equal band_hash within a band
    ==> LSH candidate pair."""
    return minhash_bands_from_sigs(minhash_signature_df(df, id_col, content_col))


def minhash_bands_from_sigs(with_sig: DataFrame) -> DataFrame:
    """Band rows projected from an ALREADY-COMPUTED (_id, sig) frame —
    callers that need both tables (the persisted-index lifecycle)
    materialize the signature once and derive bands from it instead of
    re-sketching the corpus per table."""
    bands = ", ".join(
        "struct({b} AS band_idx, xxhash64({elems}) AS band_hash)".format(
            b=b,
            elems=", ".join(
                f"element_at(sig, {b * ROWS_PER_BAND + r + 1})"
                for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(N_BANDS)
    )
    return (
        with_sig.select("_id", F.explode(F.expr(f"array({bands})")).alias("band"))
        .select("_id", F.col("band.band_idx").alias("band_idx"),
                F.col("band.band_hash").alias("band_hash"))
    )


def pairs_within_buckets(
    df: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    max_bucket: int = MAX_BUCKET,
    keep_buckets: bool = False,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) of ids sharing a bucket.

    Bucket-grouping formulation shared by every LSH family (minhash
    bands, simhash bands, hyperplane sign buckets): ONE shuffle on the
    bucket key collects each bucket's id list, then pairs are generated
    inside the bucket with array expressions. A bucket self-join would
    evaluate the whole upstream pipeline twice (both join inputs) and
    shuffle it twice (count + join); here the upstream runs once.
    Buckets above ``max_bucket`` ids are dropped as degenerate
    boilerplate (the standard web-dedup guard) — that cap also bounds
    the per-bucket pair blow-up, so no bucket skews the stage. Final
    ``distinct`` dedups pairs that collide in >1 bucket.

    Bounded buffering: rows are capped at ``max_bucket + 1`` per bucket
    BEFORE collection by a row_number window on the same partitioning
    (one exchange serves window + agg; the window's per-key sort spills
    to disk, it never holds a bucket in memory). max_bucket + 1 rows
    suffice to DETECT oversize — such buckets are dropped whole by the
    size filter, which is also why the row_number order doesn't matter
    semantically (any order keeps/drops the same buckets; ordering by
    id just makes the plan deterministic). Without the pre-cap, a
    degenerate key (e.g. the empty-document shingle) with 10^8 members
    would buffer 10^8 ids inside one collect_list buffer at 100 TB.
    """
    w = Window.partitionBy(*bucket_cols).orderBy(id_col)
    capped = df.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= max_bucket + 1
    )
    buckets = (
        capped.groupBy(*bucket_cols)
        .agg(F.collect_list(id_col).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
        # sort ONCE into a materialized column: a lambda below captures
        # ``ids``, and HOF lambdas re-evaluate captured expressions per
        # element — an expression-level array_sort here would re-sort
        # the bucket per pair-expansion step (O(m^2 log m) per bucket)
        .withColumn("ids", F.array_sort("ids"))
    )
    ids = F.col("ids")
    pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    # keep_buckets passes the bucket key through with each pair (only
    # meaningful for single-assignment bucketings like cluster ids,
    # where a pair exists in exactly one bucket) — lets callers reuse
    # the bucket downstream WITHOUT re-evaluating the bucketing
    # pipeline a second time via a join back.
    keep = list(bucket_cols) if keep_buckets else []
    return (
        buckets.select(*keep, F.explode(pairs).alias("p"))
        .select(*keep, "p.id_a", "p.id_b")
        # positional pairing over the sorted list guarantees id_a <= id_b;
        # strict filter drops self-pairs arising from duplicated input ids
        .filter(F.col("id_a") != F.col("id_b"))
        .distinct()
    )


def minhash_lsh_candidates(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Distinct candidate near-dup pairs (id_a < id_b) from banded LSH
    (see ``pairs_within_buckets`` for the no-self-join plan shape)."""
    bands = minhash_bands(df, id_col, content_col)
    return pairs_within_buckets(bands, ["band_idx", "band_hash"], "_id")


def minhash_band_frame(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """The in-memory LSH band frame of a corpus: ``(doc_id, band_idx,
    band_hash)`` rows, one per (document, band).

    A continuously-ingesting pipeline computes this ONCE per corpus
    snapshot and appends each accepted batch's rows; persist it
    partitioned/bucketed by ``(band_idx, band_hash)`` (e.g.
    ``.write.partitionBy("band_idx").bucketBy(..., "band_hash")``) so
    the per-batch probe join in ``delta_neardup_pairs`` co-locates
    without shuffling the index side.
    """
    return minhash_bands(df, id_col, content_col).select(
        F.col("_id").alias("doc_id"), "band_idx", "band_hash"
    )


def delta_neardup_pairs(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    content_col: str,
    threshold: float = 0.8,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dedup: match an incoming BATCH against an
    existing CORPUS (and against itself) without re-banding the
    corpus×corpus space.

    The batch-vs-corpus candidates come from probing the batch's band
    rows against the corpus LSH band frame (``minhash_band_frame``) with a
    plain equi-join on ``(band_idx, band_hash)`` — when the index is
    persisted bucketed on those keys, only the (small) batch side
    shuffles, and the corpus is never re-read beyond the index.
    Batch-internal candidates use the same bucket-grouping as the full
    pipeline. Exact-Jaccard verification re-shingles the batch plus
    ONLY the corpus documents some candidate touched (semi-join prune
    BEFORE the shingle projection, so untouched corpus text is never
    tokenized).

    Returns ``(batch_id, match_id, match_side, jaccard)`` with
    ``match_side ∈ {'corpus', 'batch'}``; batch-internal pairs are
    oriented ``batch_id < match_id``. A batch doc with any match is a
    near-dup of existing data — the caller's accept/reject gate.
    """
    nb = minhash_bands(batch, id_col, content_col)
    idx = (
        corpus_index
        if corpus_index is not None
        else minhash_band_frame(corpus, id_col, content_col)
    )
    old_cands = (
        nb.join(
            idx.select(
                F.col("doc_id").alias("_old_id"), "band_idx", "band_hash"
            ),
            ["band_idx", "band_hash"],
        )
        .select(F.col("_id").alias("batch_id"), F.col("_old_id").alias("match_id"))
        .distinct()
    )
    new_cands = pairs_within_buckets(nb, ["band_idx", "band_hash"], "_id").select(
        F.col("id_a").alias("batch_id"), F.col("id_b").alias("match_id")
    )

    def shingled(df: DataFrame) -> DataFrame:
        return fan_out(df).select(
            F.col(id_col).alias("_sid"), word_shingles(F.col(content_col), 3).alias("sh")
        )

    touched = old_cands.select(F.col("match_id").alias(id_col)).distinct()
    sh_batch = shingled(batch)
    sh_old = shingled(corpus.join(touched, id_col, "semi"))

    def verify(cands: DataFrame, right: DataFrame, side: str) -> DataFrame:
        joined = (
            cands.join(sh_batch.select(F.col("_sid").alias("batch_id"),
                                       F.col("sh").alias("sh_a")), "batch_id")
            .join(right.select(F.col("_sid").alias("match_id"),
                               F.col("sh").alias("sh_b")), "match_id")
        )
        inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
        union = F.size("sh_a") + F.size("sh_b") - inter
        jac = inter.cast("double") / union
        return joined.select(
            "batch_id", "match_id", F.lit(side).alias("match_side"),
            F.round(jac.cast("decimal(38,9)"), 4).cast("double").alias("jaccard"),
        ).filter(F.col("jaccard") >= threshold)

    return verify(old_cands, sh_old, "corpus").unionByName(
        verify(new_cands, sh_batch, "batch")
    )


def minhash_lsh_neardup_pairs(
    df: DataFrame, id_col: str, content_col: str, threshold: float = 0.8
) -> DataFrame:
    """Candidates verified by EXACT shingle Jaccard >= threshold.

    End-to-end near-dedup: LSH prunes, exact Jaccard confirms — no
    false positives, recall governed by the band/row parameters.
    """
    cands = minhash_lsh_candidates(df, id_col, content_col)
    sh = fan_out(df).select(
        F.col(id_col).alias("_id"), word_shingles(F.col(content_col), 3).alias("sh")
    )
    a = sh.select(F.col("_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("_id").alias("id_b"), F.col("sh").alias("sh_b"))
    joined = cands.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union
    # decimal-routed rounding: same convention as plans/base.py::r so
    # the oracle-attached registered query hash-matches its SQL twin
    return joined.select(
        "id_a", "id_b",
        F.round(jac.cast("decimal(38,9)"), 4).cast("double").alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def ml_minhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    content_col: str,
    threshold: float = 0.8,
    num_hash_tables: int = 8,
) -> DataFrame:
    """Spark ML library path for near-dedup: word-3-gram shingles ->
    binary HashingTF vectors -> ``MinHashLSH.approxSimilarityJoin``.

    The library alternative to this module's hand-built banded LSH —
    same candidate-pruning idea, implemented by Spark ML's OR-amplified
    hash tables; the returned ``jaccard`` is exact on the hashed
    shingle sets (2^18-dim feature space, collision-negligible), so
    both formulations converge on the same pairs (asserted in
    tests/test_dedup.py). Keep the hand-built path as default: it
    avoids the ML Vector conversion and exposes band parameters
    directly.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sh = fan_out(df).select(
        F.col(id_col).alias("_id"),
        word_shingles(F.col(content_col), 3).alias("_sh"),
    )
    # cache: approxSimilarityJoin's self-join would otherwise evaluate
    # the shingle+hash pipeline twice (once per join side)
    tf = HashingTF(
        inputCol="_sh", outputCol="features", numFeatures=1 << 18, binary=True
    ).transform(sh).cache()  # left cached for the lazy result; LRU-evicted
    model = MinHashLSH(
        inputCol="features", outputCol="hashes",
        numHashTables=num_hash_tables, seed=42,
    ).fit(tf)
    # approxSimilarityJoin filters STRICTLY dist < d; widen by an
    # epsilon so boundary pairs (jaccard == threshold) survive to
    # our own >= filter — matching the hand-built path's semantics
    pairs = model.approxSimilarityJoin(
        tf, tf, 1.0 - threshold + 1e-6, distCol="jaccard_dist"
    )
    return (
        pairs.filter(F.col("datasetA._id") < F.col("datasetB._id"))
        .select(
            F.col("datasetA._id").alias("id_a"),
            F.col("datasetB._id").alias("id_b"),
            F.round(1.0 - F.col("jaccard_dist"), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --- connected components (pair list -> dedup clusters) -----------------------

CC_MAX_ITERATIONS = 25


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round over a symmetric edge list (u, v).

    For every node u, m = min(neighbors ∪ {u}); emit (v, m) for each
    strictly-larger neighbor v. Plan shape: one hash aggregate (map-side
    partial MIN) + one broadcast-eligible equi-join back on u.
    """
    mins = edges.groupBy("u").agg(F.min("v").alias("_mv")).select(
        "u", F.least(F.col("_mv"), F.col("u")).alias("m")
    )
    return (
        edges.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient each edge large->small, then for
    every node u point u and all its smaller neighbors at the local
    minimum. Same aggregate+join shape as ``_large_star``."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    joined = oriented.join(mins, "u")
    to_min = joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_edge = mins.select(F.col("u"), F.col("m").alias("v"))
    return to_min.union(self_edge).filter(F.col("u") != F.col("v")).distinct()


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = CC_MAX_ITERATIONS,
) -> DataFrame:
    """(node, component) labels from an undirected pair list, where
    ``component`` is the minimum node id reachable from ``node`` —
    the missing end of the near-dedup pipeline (candidate pairs ->
    transitive duplicate CLUSTERS -> one survivor per cluster).

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): converges in
    O(log log n) rounds on realistic graphs vs O(diameter) for naive
    label propagation. Each round is two hash aggregates with map-side
    partial MINs and two equi-joins — no windows, no driver-side data.
    The per-round ``localCheckpoint`` truncates the iterative lineage
    (without it the plan doubles every round); convergence is detected
    by an order-insensitive (count, xor-of-row-hashes) edge-set
    checksum, two scalars per round on the driver.

    Rows whose ids never appear in ``pairs`` are absent from the output
    (callers left-join and coalesce to the node's own id).

    Round counts: O(log log n) expected on realistic (power-law)
    duplicate graphs — single-digit rounds even at 10^11 nodes; the
    adversarial worst case (a single long path) is O(log n). The
    ``max_iterations`` guard (default 25, i.e. comfortable for any
    n that fits storage) exists to turn a logic regression into a
    loud error instead of an unbounded job.

    Lineage truncation per round is required (the plan doubles every
    round otherwise). By default it uses ``localCheckpoint`` — blocks
    are pinned to executors, so an executor loss mid-computation fails
    the job. For long cluster runs, call
    ``spark.sparkContext.setCheckpointDir(<hdfs/s3 path>)`` first:
    when a checkpoint dir is set, this operator switches to RELIABLE
    ``checkpoint()`` (persisted to that filesystem, survives executor
    loss) at the cost of a write per round.
    """

    from ..io_utils import materialize as _truncate

    edges = _truncate(
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .union(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    if not edges.take(1):
        return edges.select(F.col("u").alias("node"), F.col("v").alias("component"))

    def checksum(df: DataFrame) -> tuple:
        row = df.agg(
            F.count("*"),
            # BIGINT bit-xor aggregate of row hashes: order-insensitive,
            # collision-safe enough for a convergence test
            F.expr("coalesce(bit_xor(xxhash64(u, v)), 0)"),
        ).collect()[0]
        return (row[0], row[1])

    prev = None
    half = edges
    for _ in range(max_iterations):
        # each star round REPLACES the edge set (connectivity is
        # preserved by both operators — Kiveris et al. Lemma 1/2);
        # large-star wants both directions, small-star orients itself
        grown = _large_star(edges).distinct()
        # eager=False: the checksum aggregate on the next line is the
        # action that BOTH materializes the round's lineage-truncated
        # edge set and computes the convergence probe — one job per
        # round instead of two (the bpetrain convention)
        half = _truncate(_small_star(grown), eager=False)
        cur = checksum(half)
        if cur == prev:
            break
        prev = cur
        edges = half.union(
            half.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    else:
        raise RuntimeError(f"connected_components: no convergence in {max_iterations} rounds")

    # post-convergence the edge set is a star forest: (node -> root).
    roots = half.select(F.col("v").alias("node"), F.col("v").alias("component")).distinct()
    return half.select(F.col("u").alias("node"), F.col("v").alias("component")).union(roots)


def neardup_clusters(
    df: DataFrame,
    id_col: str,
    content_col: str,
    threshold: float = 0.8,
) -> DataFrame:
    """Full near-dedup decision: LSH prune -> exact-Jaccard verify ->
    transitive clustering -> (id, component, keep).

    ``keep`` marks the min-id survivor per duplicate cluster; docs with
    no verified near-dup form singleton clusters and are kept. This is
    the operator a 100-TB curation pipeline actually runs: every stage
    is shuffle-bounded (band buckets / candidate pairs / star rounds)
    and the final join is ids-only.
    """
    pairs = minhash_lsh_neardup_pairs(df, id_col, content_col, threshold)
    comp = connected_components(pairs)
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("component_id"),
        )
        .withColumn("keep", F.col("component_id") == F.col("doc_id"))
    )


# --- SimHash -------------------------------------------------------------------

SIMHASH_BITS = 64
SIMHASH_BAND_BITS = 16


def simhash(content_col: Column) -> Column:
    """64-bit SimHash over whitespace tokens, pure built-ins.

    Accumulate a 64-wide counter array over the token set
    (aggregate + zip_with), +1 where the token hash has the bit set,
    -1 otherwise; final signature takes the sign bits. Bit tests use
    ``getbit`` (column-typed position); bit SETS use literal masks so
    no column-typed shift is ever needed.
    """
    from ..functions.text import tokens

    toks = F.array_distinct(tokens(content_col))
    # hash each token ONCE up front: the per-bit lambda below would
    # otherwise recompute xxhash64(token) for every one of the 64 bits
    # (HOF lambdas re-evaluate captured expressions per element —
    # functions/text.py::zipped_ngrams documents the trap)
    tok_hashes = F.transform(toks, lambda t: F.xxhash64(t))
    bit_idx = F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))
    counters = F.aggregate(
        tok_hashes,
        F.array_repeat(F.lit(0), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                bit_idx,
                lambda i: F.when(F.getbit(h, i) == 1, 1).otherwise(-1),
            ),
            lambda a, b: a + b,
        ),
    )
    # fold sign bits into one long: bit i set iff counter[i] > 0.
    # Literal masks per bit (bit 63 is the long sign bit -> negative literal).
    masks = [(1 << b) if b < 63 else -(1 << 63) for b in range(SIMHASH_BITS)]
    bit_terms = [
        F.when(F.element_at(counters, b + 1) > 0, F.lit(masks[b]).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        for b in range(SIMHASH_BITS)
    ]
    return F.aggregate(
        F.array(*bit_terms), F.lit(0).cast("long"), lambda acc, v: acc.bitwiseOR(v)
    )


def simhash_df(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """(id, simhash) via explode + hash aggregate — the scale shape.

    The nested-lambda column formulation (``simhash``) builds a huge
    expression tree that codegen executes per row; exploding tokens and
    running 64 conditional SUMs through a hash aggregate is ~50x faster
    and shuffles only (id, 64 ints). Empty/token-less docs get simhash 0.
    """
    from ..functions.text import tokens

    toks = fan_out(df).select(
        F.col(id_col).alias("_id"),
        F.explode_outer(F.array_distinct(tokens(F.col(content_col)))).alias("_tok"),
    )
    hashed = toks.withColumn("_h", F.xxhash64("_tok"))
    counter_aggs = [
        F.sum(
            F.when(F.col("_tok").isNull(), 0)
            .when(F.getbit(F.col("_h"), F.lit(b)) == 1, 1)
            .otherwise(-1)
        ).alias(f"_c{b}")
        for b in range(SIMHASH_BITS)
    ]
    counters = hashed.groupBy("_id").agg(*counter_aggs)
    masks = [(1 << b) if b < 63 else -(1 << 63) for b in range(SIMHASH_BITS)]
    sig = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"_c{b}") > 0, F.lit(masks[b]).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig.bitwiseOR(term)
    return counters.select(F.col("_id"), sig.alias("simhash"))


def simhash_buckets(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """id, simhash, 4 x 16-bit band keys — docs sharing any band are
    Hamming-near candidates (standard 64-bit / 4-band split detects
    Hamming distance <= 3 with high probability)."""
    out = simhash_df(df, id_col, content_col)
    for b in range(SIMHASH_BITS // SIMHASH_BAND_BITS):
        out = out.withColumn(
            f"band_{b}",
            F.shiftrightunsigned(F.col("simhash"), b * SIMHASH_BAND_BITS)
            .bitwiseAND(F.lit((1 << SIMHASH_BAND_BITS) - 1)),
        )
    return out
