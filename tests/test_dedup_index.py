"""Persisted MinHash-LSH band index (operators/dedup_index.py):
build / extend / probe lifecycle for incremental corpus dedup —
new shards are checked against everything ingested so far by reading
the INDEX, never the corpus text, and without shuffling the index."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from meshtastic_airsensor_database_spark.operators.dedup_index import (
    build_minhash_index,
    dedup_new_batch,
    extend_minhash_index,
)

CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "meshtastic nodes report air quality telemetry every thirty seconds"),
    (3, "particulate matter rises sharply during wildfire season in the hills"),
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture()
def index_path(tmp_path):
    return os.path.join(str(tmp_path), "mh_index")


def test_build_probe_finds_cross_shard_duplicates(spark, index_path):
    build_minhash_index(_df(spark, CORPUS), index_path)
    batch = _df(
        spark,
        [
            # exact copy of indexed doc 1 -> est_jaccard 1.0, always
            (101, CORPUS[0][1]),
            # fresh content -> disjoint shingles, no candidate at all
            (102, "completely different words about database engines and shuffles"),
        ],
    )
    got = {
        (r.new_id, r.indexed_id): r.est_jaccard
        for r in dedup_new_batch(batch, index_path, threshold=0.5).collect()
    }
    assert got == {(101, 1): 1.0}


def test_extend_then_probe_catches_new_generation_dups(spark, index_path):
    build_minhash_index(_df(spark, CORPUS), index_path)
    survivors = _df(
        spark, [(201, "a brand new document that survives the first dedup pass fine")]
    )
    assert dedup_new_batch(survivors, index_path).count() == 0
    extend_minhash_index(survivors, index_path)
    # a later shard duplicating the EXTENDED survivor is caught too
    later = _df(
        spark, [(301, "a brand new document that survives the first dedup pass fine")]
    )
    got = {(r.new_id, r.indexed_id) for r in dedup_new_batch(later, index_path).collect()}
    assert got == {(301, 201)}
    # and the original corpus is still indexed (append did not clobber)
    again = _df(spark, [(302, CORPUS[1][1])])
    got2 = {(r.new_id, r.indexed_id) for r in dedup_new_batch(again, index_path).collect()}
    assert got2 == {(302, 2)}


def test_probe_plan_broadcasts_shard_never_shuffles_index(spark, index_path):
    """The 100-TB contract: both probe joins broadcast the SHARD side;
    the stored band/signature tables are scanned once each and never
    sort-merge-joined (which would shuffle the whole index per shard)."""
    build_minhash_index(_df(spark, CORPUS), index_path)
    batch = _df(spark, [(101, CORPUS[0][1])])
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = (
        dedup_new_batch(batch, index_path)._jdf.queryExecution().explainString(mode)
    )
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_estimator_tracks_partial_overlap(spark, index_path):
    """A near-copy (most shingles shared) must surface as a candidate
    with a high estimate; the estimate is the matching-minima fraction,
    so it is a multiple of 1/32."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    build_minhash_index(_df(spark, [(1, base)]), index_path)
    near = base.replace("mu", "nu")  # tail edit: most 3-gram shingles survive
    rows = dedup_new_batch(
        _df(spark, [(401, near)]), index_path, threshold=0.0
    ).collect()
    assert [(r.new_id, r.indexed_id) for r in rows] == [(401, 1)]
    est = rows[0].est_jaccard
    assert 0.5 <= est < 1.0 and abs(est * 32 - round(est * 32)) < 1e-9


def test_probe_drops_degenerate_index_buckets(spark, index_path):
    """The MAX_BUCKET guard, probe-side: a band key held by more than
    max_bucket indexed docs (boilerplate) is dropped whole before the
    candidate join — one degenerate key must not fan a probe out by
    the bucket's size."""
    boiler = "exactly the same boilerplate text repeated across the corpus"
    build_minhash_index(
        _df(spark, [(i, boiler) for i in range(5)]), index_path
    )
    batch = _df(spark, [(900, boiler)])
    # bucket size 5 > cap 4 -> dropped -> no candidates at all
    assert dedup_new_batch(batch, index_path, max_bucket=4).count() == 0
    # with the cap above the bucket size the duplicates are all found
    got = {
        (r.new_id, r.indexed_id)
        for r in dedup_new_batch(batch, index_path, max_bucket=5).collect()
    }
    assert got == {(900, i) for i in range(5)}


def test_lifecycle_durability_r11(spark, index_path, tmp_path):
    """The decon_index discipline applied here (r11): missing/mismatched
    _meta.json refused, empty extend a no-op, empty probe schema-correct,
    crashed-then-retried extend converges (sigs append first; duplicates
    absorbed by distinct-id bucket counts + distinct report)."""
    from pyspark.sql import functions as F

    from meshtastic_airsensor_database_spark.operators.dedup_index import (
        _index_rows,
    )

    build_minhash_index(_df(spark, CORPUS), index_path)
    assert os.path.exists(os.path.join(index_path, "_meta.json"))

    # missing stamp -> refusal on both lifecycle verbs
    os.rename(
        os.path.join(index_path, "_meta.json"), str(tmp_path / "stamp_bak")
    )
    shard = _df(spark, [(201, "a brand new document for the retry test here")])
    with pytest.raises(ValueError, match="no _meta.json stamp"):
        extend_minhash_index(shard, index_path)
    with pytest.raises(ValueError, match="no _meta.json stamp"):
        dedup_new_batch(shard, index_path)
    # mismatched stamp (an index built under different sketch constants)
    with open(os.path.join(index_path, "_meta.json"), "w") as f:
        f.write('{"n_permutations": 16, "n_bands": 4, "shingle_k": 3, "hash_p": 7}')
    with pytest.raises(ValueError, match="built with"):
        dedup_new_batch(shard, index_path)
    os.replace(str(tmp_path / "stamp_bak"), os.path.join(index_path, "_meta.json"))

    # empty shard: extend no-op, probe returns the right (empty) shape
    empty = _df(spark, []).filter(F.lit(False))
    n_band_rows = spark.read.parquet(os.path.join(index_path, "bands")).count()
    extend_minhash_index(empty, index_path)
    assert (
        spark.read.parquet(os.path.join(index_path, "bands")).count()
        == n_band_rows
    )
    out = dedup_new_batch(empty, index_path)
    assert out.columns == ["new_id", "indexed_id", "est_jaccard"]
    assert out.count() == 0

    # crashed extend (sigs landed, bands did not): orphan sigs are inert
    bands, sigs = _index_rows(shard, "doc_id", "text", "xxhash64")
    sigs.write.mode("append").parquet(os.path.join(index_path, "sigs"))
    probe = _df(spark, [(301, "a brand new document for the retry test here")])
    assert dedup_new_batch(probe, index_path).count() == 0
    # the retry completes it; duplicate sig rows do not double-report
    extend_minhash_index(shard, index_path)
    rows = dedup_new_batch(probe, index_path).collect()
    assert [(r.new_id, r.indexed_id, r.est_jaccard) for r in rows] == [(301, 201, 1.0)]
    # a retry of a COMPLETED extend duplicates band rows too: the
    # distinct-id bucket count keeps the bucket alive at max_bucket=1
    extend_minhash_index(shard, index_path)
    rows2 = dedup_new_batch(probe, index_path, max_bucket=1).collect()
    assert [(r.new_id, r.indexed_id, r.est_jaccard) for r in rows2] == [(301, 201, 1.0)]


def test_rebuild_crash_never_mixes_generations(spark, index_path, monkeypatch):
    """A rebuild that dies between its two table writes must leave the
    ORIGINAL index intact (staged swap) — never new bands over old
    signatures, which would estimate against the wrong sketch silently."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    build_minhash_index(_df(spark, CORPUS), index_path)
    probe = _df(spark, [(101, CORPUS[0][1])])
    before = {(r.new_id, r.indexed_id, r.est_jaccard)
              for r in dedup_new_batch(probe, index_path, threshold=0.5).collect()}

    real_write = ClassicDF.write
    calls = {"n": 0}

    def _second_write_dies(self):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise RuntimeError("simulated crash mid-rebuild")
        return real_write.fget(self)

    monkeypatch.setattr(ClassicDF, "write", property(_second_write_dies))
    with pytest.raises(RuntimeError, match="mid-rebuild"):
        build_minhash_index(
            _df(spark, [(9, "totally different corpus generation")]), index_path
        )
    monkeypatch.undo()
    after = {(r.new_id, r.indexed_id, r.est_jaccard)
             for r in dedup_new_batch(probe, index_path, threshold=0.5).collect()}
    assert after == before
    # the next lifecycle entry sweeps the dead staging
    extend_minhash_index(
        _df(spark, [(401, "one more shard to trigger the sweep now")]), index_path
    )
    assert not os.path.exists(index_path + ".build-staging")


def test_empty_build_refused(spark, index_path):
    from pyspark.sql import functions as F

    with pytest.raises(ValueError, match="empty corpus"):
        build_minhash_index(_df(spark, []).filter(F.lit(False)), index_path)


def test_md5_tier_lifecycle_query_equals_single_build(spark, sf_dir):
    """The registered ``minhash_index_report`` query (driver-hash
    evidence for THIS module's md5 tier) must return exactly what a
    one-shot md5 build over the full even-id corpus returns — the
    half-build + half-extend split it runs internally is invisible in
    the report. Catches any extend-path divergence before it reaches
    the driver's oracle gate."""
    import tempfile

    from meshtastic_airsensor_database_spark.io_utils import load
    from meshtastic_airsensor_database_spark.plans.vectorq import (
        minhash_index_report,
    )

    got = {
        (r.new_id, r.indexed_id, r.est_jaccard)
        for r in minhash_index_report(spark, sf_dir).collect()
    }

    docs = load(spark, sf_dir, "documents")
    path = os.path.join(tempfile.mkdtemp(prefix="mh_idx_t_"), "idx")
    build_minhash_index(
        docs.filter(F.col("doc_id") % 2 == 0), path, sketch="md5"
    )
    want = {
        (r.new_id, r.indexed_id, r.est_jaccard)
        for r in dedup_new_batch(
            docs.filter(F.col("doc_id") % 2 == 1), path, threshold=0.25
        ).collect()
    }
    assert got == want and len(got) > 0


def test_sketch_tiers_never_mix(spark, index_path, tmp_path):
    """An md5 index refuses an xxhash64-era stamp and vice versa —
    extend/probe read the tier from the STAMP, so a caller cannot
    accidentally append minima from the wrong hash family (the band
    keys and signatures would live in different spaces, estimating
    garbage instead of erroring)."""
    import json as _json

    build_minhash_index(_df(spark, CORPUS), index_path, sketch="md5")
    meta_path = os.path.join(index_path, "_meta.json")
    meta = _json.load(open(meta_path))
    assert meta["sketch"] == "md5" and meta["n_permutations"] == 16
    # md5 probe works end to end on the tiny corpus
    shard = _df(spark, [(900, CORPUS[0][1])])
    dup = dedup_new_batch(shard, index_path, threshold=0.8)
    assert {(r.new_id, r.indexed_id) for r in dup.collect()} == {(900, CORPUS[0][0])}
    assert dup.collect()[0].est_jaccard == 1.0
    # forging the OTHER tier's stamp onto this index must refuse:
    # the validator checks the stamp's internal consistency per tier,
    # and a hand-mixed stamp (md5 perms under an xxhash64 kind) fails
    with open(meta_path, "w") as f:
        _json.dump({"sketch": "xxhash64", "n_permutations": 16,
                    "n_bands": 4, "shingle_k": 3, "hash_p": 7}, f)
    with pytest.raises(ValueError, match="built with"):
        extend_minhash_index(shard, index_path)
    with pytest.raises(ValueError, match="built with"):
        dedup_new_batch(shard, index_path)


def test_parallel_append_publish_order_and_staging_cleanup(spark, index_path, tmp_path):
    """parallel_append_ordered must (a) leave the same probe-visible
    index state as the sequential appends it replaced, (b) clean a
    leftover .append-staging from a crashed prior extend, and (c) keep
    the sigs-before-bands crash invariant: a synthetic crash state with
    staged-but-unpublished BANDS never surfaces candidates whose
    signatures are missing."""
    import shutil

    from meshtastic_airsensor_database_spark.io_utils import (
        _APPEND_STAGING_SUFFIX,
    )

    build_minhash_index(_df(spark, CORPUS), index_path)
    shard = _df(spark, [(401, "ordered publish semantics shard one here")])

    # (b) leftover staging from a "crash" is swept before the append
    leftover = index_path + _APPEND_STAGING_SUFFIX
    os.makedirs(os.path.join(leftover, "sigs"))
    with open(os.path.join(leftover, "sigs", "part-stale"), "w") as f:
        f.write("stale")
    extend_minhash_index(shard, index_path)
    assert not os.path.exists(leftover)

    # (a) the extend is probe-visible exactly like the sequential form
    probe = _df(spark, [(501, "ordered publish semantics shard one here")])
    rows = dedup_new_batch(probe, index_path).collect()
    assert [(r.new_id, r.indexed_id) for r in rows] == [(501, 401)]

    # (c) synthetic crash AFTER the sigs publish, BEFORE bands: move the
    # bands files back out (reconstructing the mid-publish state) — the
    # probe sees orphan sigs (inert) and never a band row without its
    # signature; a retried extend then converges
    shard2 = _df(spark, [(402, "a totally different second shard text")])
    bands_dir = os.path.join(index_path, "bands")
    before = set(os.listdir(bands_dir))
    extend_minhash_index(shard2, index_path)
    added = set(os.listdir(bands_dir)) - before
    stash = tmp_path / "bands_stash"
    os.makedirs(stash)
    for name in added:
        shutil.move(os.path.join(bands_dir, name), str(stash / name))
    probe2 = _df(spark, [(502, "a totally different second shard text")])
    assert dedup_new_batch(probe2, index_path).count() == 0
    extend_minhash_index(shard2, index_path)  # retry converges
    rows2 = dedup_new_batch(probe2, index_path).collect()
    assert [(r.new_id, r.indexed_id) for r in rows2] == [(502, 402)]


def test_crashed_mid_publish_extend_is_detectable_then_converges(
    spark, index_path, monkeypatch
):
    """A crash INSIDE the ordered-publish window must be DETECTABLE
    (``has_pending_append``) instead of only silently absorbed by the
    probes' distinct semantics (r11 verdict #7): the fsync'd
    ``_APPEND_PENDING`` marker brackets the renames, survives the
    crash, and is cleared by the retried extend's complete publish."""
    import meshtastic_airsensor_database_spark.io_utils as iou

    build_minhash_index(_df(spark, CORPUS), index_path)
    shard = _df(spark, [(601, "detectable pending append shard text")])

    real_rename = os.rename
    calls = {"n": 0}

    def failing_rename(src, dst):
        if "part-" in os.path.basename(src):
            calls["n"] += 1
            if calls["n"] >= 2:  # sigs published, bands not
                raise OSError("simulated crash mid-publish")
        return real_rename(src, dst)

    monkeypatch.setattr(iou.os, "rename", failing_rename)
    try:
        extend_minhash_index(shard, index_path)
    except OSError:
        pass
    monkeypatch.setattr(iou.os, "rename", real_rename)

    # detectable: the pending marker survived the crash, and the crash
    # state is the safe direction (orphan sigs, no dangling bands)
    assert iou.has_pending_append(index_path)
    probe = _df(spark, [(701, "detectable pending append shard text")])
    assert dedup_new_batch(probe, index_path).count() == 0

    # the retried extend converges AND clears the marker
    extend_minhash_index(shard, index_path)
    assert not iou.has_pending_append(index_path)
    rows = dedup_new_batch(probe, index_path).collect()
    assert [(r.new_id, r.indexed_id) for r in rows] == [(701, 601)]


@pytest.mark.parametrize("kind", ["minhash", "decon"])
def test_probe_warns_on_pending_append(spark, tmp_path, kind):
    """A crashed extend is reported when the index is PROBED, not only
    by ``maintain``: one RuntimeWarning naming the path while the
    ``_APPEND_PENDING`` marker stands, none without it."""
    import warnings

    from meshtastic_airsensor_database_spark.operators.decon_index import (
        build_decon_index,
        probe_decon_index,
    )

    path = os.path.join(str(tmp_path), kind)
    if kind == "minhash":
        build_minhash_index(_df(spark, CORPUS), path)
        shard = _df(spark, [(801, CORPUS[0][1])])
        probe = lambda: dedup_new_batch(shard, path)  # noqa: E731
    else:
        emb = "vec_id long, embedding array<double>"
        build_decon_index(spark.createDataFrame([(1, [1.0, 0.0, 0.0])], emb), path)
        shard = spark.createDataFrame([(801, [2.0, 0.0, 0.0])], emb)
        probe = lambda: probe_decon_index(shard, path)  # noqa: E731

    def pending_warnings() -> list:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            probe()
        return [w for w in caught if "crashed append" in str(w.message)]

    assert pending_warnings() == []
    open(os.path.join(path, "_APPEND_PENDING"), "w").close()
    (w,) = pending_warnings()
    assert w.category is RuntimeWarning
    assert path in str(w.message) and "re-running the extend" in str(w.message)
