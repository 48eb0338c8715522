"""Persisted MinHash-LSH band index: dedup NEW shards against the
existing corpus without re-processing it.

The minhash_* queries sketch + band the whole corpus per run — right
for a one-shot analytical dedup, wrong for the 100-TB growth regime
where shards arrive continuously and each new shard must be checked
against EVERYTHING ingested so far. Re-sketching the corpus per shard
is O(corpus) per batch; this module persists the sketch once and makes
each new-shard check O(shard + one index scan):

- ``<path>/bands``  — (id, band_idx, band_hash): the LSH candidate
  structure (``operators/dedup.py::minhash_bands``'s exact layout);
- ``<path>/sigs``   — (id, sig array<long>): the full signatures, so
  candidate verification is the standard matching-minima Jaccard
  ESTIMATE read straight off the index — the corpus TEXT is never
  touched again (its bodies may live in cold storage).

Probe shape: the new shard's band rows and candidate pairs are small,
so both verification joins BROADCAST the shard side against one scan
of the stored table — the index is never shuffled, and ingesting a
shard costs two index scans regardless of how many shards preceded it
(pinned by tests via the physical plan). ``extend_minhash_index``
appends the survivors' rows, so the index grows with the corpus the
same way the IVF vector index does (operators/vindex.py, the same
build/extend/probe lifecycle).

No counterpart in the reference (dedup is this engine's extension
mandate); estimator semantics match minhash_jaccard_calibration's
oracle-pinned matching-minima estimate.

Lifecycle durability (r11, the decon_index discipline): builds land in
a staged directory and swap in with two renames (a crashed REBUILD can
never mix new bands with old signatures), ``_meta.json`` stamps the
sketch parameters and extend/probe refuse a missing or mismatched
stamp, extend appends sigs before bands (the only crash state is
inert), and the probe absorbs a retried extend's duplicates
(distinct-id bucket counts, distinct report).

Sketch tiers (r11): ``xxhash64`` (default, cheapest per shingle) and
``md5`` — the oracle-twinned derandomized sketch shared with the
calibration/candidate queries, giving the whole persisted lifecycle an
exact DuckDB twin via the registered ``minhash_index_report`` query.
The stamp records the tier; extend/probe dispatch on it.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io_utils import (
    BUILD_SWAP,
    begin_staged_build,
    materialize,
    parallel_append_ordered,
    publish_swap,
    recover_swap,
    warn_pending_append,
)
from .dedup import (
    _MINHASH_P,
    MAX_BUCKET,
    MH_CAND_BANDS,
    MHJ_PERMS,
    MHJ_SALTS,
    N_BANDS,
    N_PERMUTATIONS,
    md5_minhash_sketch,
    minhash_bands_from_sigs,
    minhash_signature_df,
)

# the sketch's identity: rows written under one parameterization are
# meaningless under another (different permutations = different minima;
# different banding = a different band-key space). The stamp pins the
# MODULE CONSTANTS the sketch derives from, so an index built by an
# older code version with different constants refuses loudly instead of
# estimating garbage (the decon_index._check_meta discipline, r11).
# Two sketch tiers (r11): ``xxhash64`` is the scale default (one JVM
# hash per shingle, 32 permutations); ``md5`` is the ORACLE-TWINNED
# tier — the same derandomized digest sketch the oracle-pinned
# calibration/candidate queries use (operators/dedup.py::
# md5_minhash_sketch), so an md5 index's whole persisted lifecycle has
# an exact DuckDB twin (the ``minhash_index_report`` registered query).
# The stamp records which tier built the index; mixing tiers would put
# band keys and minima in different spaces, so extend/probe dispatch on
# the STAMP, never on a caller argument.
_META_BY_SKETCH = {
    "xxhash64": {
        "sketch": "xxhash64",
        "n_permutations": N_PERMUTATIONS,
        "n_bands": N_BANDS,
        "shingle_k": 3,
        "hash_p": _MINHASH_P,
    },
    "md5": {
        "sketch": "md5",
        "n_permutations": MHJ_PERMS,
        "n_bands": MH_CAND_BANDS,
        "shingle_k": 3,
        "salts": MHJ_SALTS,
    },
}


def _check_meta(path: str) -> str:
    """Validate the stamp and return the index's sketch tier. A stamp
    without a ``sketch`` key is a pre-r11 xxhash64 index (the only tier
    that existed when those stamps were written)."""
    meta_path = os.path.join(path, "_meta.json")
    if not os.path.exists(meta_path):
        raise ValueError(
            f"minhash index at {path} has no _meta.json stamp — refusing "
            "to extend/probe an index whose sketch parameters cannot be "
            "validated (build_minhash_index writes the stamp before any "
            "data since r11; a pre-r11 index needs one rebuild)"
        )
    meta = json.load(open(meta_path))
    sketch = meta.get("sketch", "xxhash64")
    expected = _META_BY_SKETCH.get(sketch)
    if expected is None or {**{"sketch": "xxhash64"}, **meta} != expected:
        raise ValueError(
            f"minhash index at {path} was built with {meta}, but this "
            f"code sketches with {_META_BY_SKETCH} — the band keys/"
            "minima are a different space; rebuild the index"
        )
    return sketch


def _index_rows(
    docs: DataFrame,
    id_col: str,
    content_col: str,
    sketch: str,
    share_sketch: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """(bands, sigs) for ``docs``. With ``share_sketch`` the sketch —
    the expensive shared prefix of BOTH tables (shingle + 16 md5
    digests / 32 permutation minima per doc) — is materialized eagerly
    ONCE and both frames project from the cached rows; right for the
    SHARD-sized probe/extend paths, where the old shape re-sketched
    the shard once per consumer (three broadcast builds in the probe,
    two concurrent appends in the extend). The corpus-sized build
    keeps the lazy shape: a corpus-sized localCheckpoint is exactly
    what the two concurrent staged writes avoid."""
    if sketch == "md5":
        sk = md5_minhash_sketch(
            docs, basis="shingles", id_col=id_col, content_col=content_col
        )
        if share_sketch:
            sk = materialize(sk)
        sigs = sk.select(
            F.col("doc_id").alias("_id"),
            F.array(*[F.col(f"mh{k}") for k in range(MHJ_PERMS)]).alias("sig"),
        )
        rows_per_band = MHJ_PERMS // MH_CAND_BANDS
        band_structs = [
            F.struct(
                F.lit(b).alias("band_idx"),
                # ':'-joined decimal minima — byte-identical to the SQL
                # twin's CAST(mh AS VARCHAR) || ':' || ... band key
                F.concat_ws(
                    ":",
                    *[
                        F.col(f"mh{rows_per_band * b + j}").cast("string")
                        for j in range(rows_per_band)
                    ],
                ).alias("band_hash"),
            )
            for b in range(MH_CAND_BANDS)
        ]
        bands = sk.select(
            F.col("doc_id").alias("_id"),
            F.explode(F.array(*band_structs)).alias("band"),
        ).select("_id", "band.band_idx", "band.band_hash")
        return bands, sigs
    sigs = minhash_signature_df(docs, id_col, content_col)
    if share_sketch:
        sigs = materialize(sigs)
    bands = minhash_bands_from_sigs(sigs)
    return bands, sigs


def build_minhash_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    content_col: str = "text",
    sketch: str = "xxhash64",
) -> None:
    """Sketch + band the corpus once and persist both tables, plus the
    ``_meta.json`` sketch-parameter stamp. ``sketch`` picks the tier:
    ``xxhash64`` (default — cheapest per shingle, 32 permutations) or
    ``md5`` (the oracle-twinned derandomized sketch, 16 permutations);
    extend/probe read the tier from the stamp, never from the caller.

    The whole build lands in a STAGED directory and swaps in with two
    renames (io_utils.begin_staged_build/publish_swap): two in-place
    overwrites would leave a crash window where new bands meet old
    signatures — candidates verified against the wrong sketch, silently
    wrong estimates. Any crash state converges at the next
    build/extend entry (``recover_swap``)."""
    if sketch not in _META_BY_SKETCH:
        raise ValueError(
            f"sketch must be one of {sorted(_META_BY_SKETCH)}, got {sketch!r}"
        )
    if docs.isEmpty():
        raise ValueError("cannot build a minhash index from an empty corpus")
    staging = begin_staged_build(path)
    with open(os.path.join(staging, "_meta.json"), "w") as f:
        json.dump(_META_BY_SKETCH[sketch], f)
    bands, sigs = _index_rows(docs, id_col, content_col, sketch)
    # rebalance before each write (the decon_index convention): the
    # sig/band frames inherit the input's partitioning, so every task
    # would emit its own tiny file — paid again by every probe's
    # listing. AQE sizes rebalanced partitions by
    # advisoryPartitionSizeInBytes: one file locally, target-sized
    # files at 100 TB.
    #
    # Both writes are INDEPENDENT jobs inside one atomic staged build
    # (ordering is irrelevant before publish_swap's rename), so
    # they run concurrently from two driver threads (guide §2.6) —
    # extend keeps its sigs-BEFORE-bands ordering because its appends
    # are not staged.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fs = pool.submit(
            lambda: sigs.hint("rebalance").write.parquet(
                os.path.join(staging, "sigs")
            )
        )
        fb = pool.submit(
            lambda: bands.hint("rebalance").write.parquet(
                os.path.join(staging, "bands")
            )
        )
        fs.result()
        fb.result()
    publish_swap(path, *BUILD_SWAP)


def extend_minhash_index(
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    content_col: str = "text",
) -> None:
    """Append a new shard's rows — existing files are never rewritten
    (the IVF-index append regime). Empty shards are a no-op.

    Crash order (the decon_index r11 discipline): sigs append BEFORE
    bands. A signature with no band rows is inert — it can never become
    a candidate — whereas the reverse order could leave band rows whose
    verify signatures are missing, silently dropping true near-dups at
    the inner sigs join. Re-running the extend repairs the crash state;
    the duplicate sig/band rows a retry leaves are absorbed by the
    probe (distinct-id bucket counts, distinct report)."""
    if new_docs.isEmpty():
        return
    recover_swap(path, *BUILD_SWAP)
    sketch = _check_meta(path)
    # NOT share_sketch: an eager shared sketch would serialize one
    # sketch job BEFORE the two appends — measured slower end-to-end
    # (1.29 -> 1.53 s at sf0.1) than letting the two concurrent write
    # jobs each sketch the shard with idle cores (guide §2.6); the
    # probe path shares instead, where three sequential broadcast
    # builds consumed the same sketch (r12 negative result, recorded)
    bands, sigs = _index_rows(new_docs, id_col, content_col, sketch)
    # compute both appends in parallel, publish sigs BEFORE bands (the
    # crash-ordering invariant: a band row must never exist without
    # its signature — io_utils.parallel_append_ordered keeps every
    # crash point on the safe side while the two write jobs overlap)
    parallel_append_ordered(
        path,
        [("sigs", sigs.hint("rebalance")), ("bands", bands.hint("rebalance"))],
    )


def dedup_new_batch(
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    content_col: str = "text",
    threshold: float = 0.8,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Near-dups of a NEW shard against the indexed corpus:
    (new_id, indexed_id, est_jaccard) with est_jaccard >= threshold.

    Candidates: the shard's band rows (small) broadcast-join one scan
    of the stored band table on (band_idx, band_hash). Degenerate index
    buckets — a band key held by more than ``max_bucket`` indexed docs
    (boilerplate/empty-doc bands) — are dropped BEFORE the candidate
    join, the same guard as pairs_within_buckets: without it one
    degenerate key fans every probe out by the bucket's size. The
    membership counts are measured only for the PROBED keys, on their
    own broadcast-probed index scan whose groupBy partially aggregates
    map-side — a degenerate bucket's rows are read (they share files
    with good rows) but the exchange carries one partial row per key
    per partition, so nothing bucket-sized ever shuffles; the (tiny,
    usually empty) OVER-cap key set then prunes the candidate scan as
    a broadcast anti-join applied before the shard join fans anything
    out (equivalent to the old inner join against the under-cap keys:
    candidate keys are probed ∧ not degenerate either way, r12). The
    shard is sketched ONCE (an eager shard-sized checkpoint) — every
    broadcast build projects from the cached rows, where the old shape
    re-sketched the shard per consumer. Verify: the distinct candidate
    pairs (small) broadcast-join one scan of the stored signature
    table; est_jaccard = matching-minima fraction of the two
    signatures (the unbiased MinHash estimator). The index side is
    never sort-merge-joined and the corpus text is never read;
    per-shard cost is three broadcast-probed index scans + shard-sized
    work, independent of shard count.
    """
    spark = new_docs.sparkSession
    sketch = _check_meta(path)
    warn_pending_append(path)
    if new_docs.isEmpty():
        # empty shard -> empty report with the right schema (indexed_id
        # typed from the index's own footer; no sketching work)
        indexed_id_type = (
            spark.read.parquet(os.path.join(path, "sigs"))
            .schema["_id"].dataType.simpleString()
        )
        return new_docs.select(
            F.col(id_col).alias("new_id"),
            F.col(id_col).cast(indexed_id_type).alias("indexed_id"),
            F.lit(0.0).alias("est_jaccard"),
        ).limit(0)
    new_bands, new_sigs = _index_rows(
        new_docs, id_col, content_col, sketch, share_sketch=True
    )
    stored_bands = spark.read.parquet(os.path.join(path, "bands"))

    probe_keys = new_bands.select("band_idx", "band_hash").distinct()
    bad_keys = (
        stored_bands.join(F.broadcast(probe_keys), ["band_idx", "band_hash"])
        .groupBy("band_idx", "band_hash")
        # DISTINCT ids, not rows: a crashed-then-retried extend can
        # leave duplicate band rows, which must not flip a legitimate
        # bucket over the degenerate cap (still two-phase map-side)
        .agg(F.countDistinct("_id").alias("_bn"))
        .filter(F.col("_bn") > max_bucket)
        .select("band_idx", "band_hash")
    )
    cands = (
        stored_bands.join(F.broadcast(bad_keys), ["band_idx", "band_hash"],
                          "left_anti")
        .join(
            F.broadcast(
                new_bands.select(
                    F.col("_id").alias("new_id"), "band_idx", "band_hash"
                )
            ),
            ["band_idx", "band_hash"],
        )
        .select("new_id", F.col("_id").alias("indexed_id"))
        .distinct()
    )

    stored_sigs = spark.read.parquet(os.path.join(path, "sigs"))
    with_new = cands.join(
        F.broadcast(new_sigs.select(F.col("_id").alias("new_id"),
                                    F.col("sig").alias("new_sig"))),
        "new_id",
    )
    # candidate pairs (banded shard hits) stay shard-sized: broadcast
    # them against the big signature scan, never the other way round
    pairs = stored_sigs.join(
        F.broadcast(with_new), stored_sigs["_id"] == F.col("indexed_id")
    )
    # denominator = the sig's own length (32 xxhash64 / 16 md5), not a
    # module constant: the estimator must follow the index's tier
    match_frac = (
        F.size(
            F.filter(
                F.zip_with("sig", "new_sig", lambda a, b: a == b),
                lambda m: m,
            )
        ).cast("double")
        / F.size("sig").cast("double")
    )
    return (
        pairs.select(
            "new_id",
            "indexed_id",
            F.round(match_frac.cast("decimal(38,9)"), 4)
            .cast("double")
            .alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        # distinct over the (tiny, candidate-bounded) report: duplicate
        # sig rows from a crashed-then-retried extend carry identical
        # estimates, so this collapses them instead of double-reporting
        .distinct()
    )
