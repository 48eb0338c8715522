"""Dedup operator tests: LSH candidates vs exact Jaccard ground truth."""

from __future__ import annotations

from pyspark.sql import functions as F

from meshtastic_airsensor_database_spark.io_utils import load
from meshtastic_airsensor_database_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    minhash_lsh_neardup_pairs,
    simhash_df,
)
from meshtastic_airsensor_database_spark.plans.textq import jaccard_neardup_pairs


def test_exact_dedup_survivor(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], ["doc_id", "text"]
    )
    out = {r.keep_id: r for r in exact_dedup(df, "doc_id", "text").collect()}
    assert out[1].n_duplicates == 1  # min id survives
    assert out[3].n_duplicates == 0
    assert 2 not in out


def test_minhash_recall_vs_exact(spark, sf_dir):
    """LSH candidate set must contain (near-)all true >=0.8-Jaccard
    pairs — the planted near-dups in the synthetic corpus."""
    docs = load(spark, sf_dir, "documents")
    truth = {
        (r.doc_a, r.doc_b) for r in jaccard_neardup_pairs(spark, sf_dir).collect()
    }
    cands = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(docs, "doc_id", "text").collect()
    }
    assert truth, "fixture should contain planted near-dups"
    recall = len(truth & cands) / len(truth)
    assert recall >= 0.95, f"LSH recall {recall} too low ({len(truth)} truth pairs)"


def test_minhash_verified_pairs_no_false_positives(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    verified = minhash_lsh_neardup_pairs(docs, "doc_id", "text", 0.8)
    truth = {
        (r.doc_a, r.doc_b) for r in jaccard_neardup_pairs(spark, sf_dir).collect()
    }
    got = {(r.id_a, r.id_b) for r in verified.collect()}
    assert got <= truth  # exact verify step kills every false positive


def test_minhash_verified_equals_exact_on_oracle_sample(spark, sf_dir):
    """The registered minhash_verified_neardups carries the exact
    all-pairs SQL twin on the oracle-mirrored sample — so LSH-prune +
    exact-verify must EQUAL the exact result there (values included),
    not merely approximate it."""
    from meshtastic_airsensor_database_spark.plans.textq import (
        NEARDUP_SAMPLE_MAX_ID,
    )
    from meshtastic_airsensor_database_spark.plans.vectorq import (
        minhash_verified_neardups,
    )

    exact = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in jaccard_neardup_pairs(
            spark, sf_dir, max_id=NEARDUP_SAMPLE_MAX_ID
        ).collect()
    }
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_verified_neardups(spark, sf_dir).collect()
    }
    assert exact and got == exact


def test_simhash_identical_docs_same_hash(spark):
    df = spark.createDataFrame(
        [(1, "spark hash join window"), (2, "spark hash join window"),
         (3, "utterly different content entirely")],
        ["doc_id", "text"],
    )
    out = {r._id: r.simhash for r in simhash_df(df, "doc_id", "text").collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_simhash_empty_doc(spark):
    df = spark.createDataFrame([(1, "")], ["doc_id", "text"])
    row = simhash_df(df, "doc_id", "text").collect()
    assert len(row) == 1  # empty docs keep a row (simhash of no tokens)


def test_streaming_style_exact_packet_dedup(spark):
    """Packet-id dedup (MQTT at-least-once): dropDuplicates on id."""
    df = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], ["id", "payload"])
    assert df.dropDuplicates(["id"]).count() == 2


def test_lsh_candidates_no_self_pairs_on_duplicated_ids(spark):
    """Duplicated input ids (the exact condition dedup handles) must not
    produce (x, x) self-pairs from the bucket pair generator."""
    from meshtastic_airsensor_database_spark.operators.dedup import (
        minhash_lsh_candidates,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(5, text), (5, text), (6, text)], ["doc_id", "text"]
    )
    pairs = {(r.id_a, r.id_b) for r in minhash_lsh_candidates(df, "doc_id", "text").collect()}
    assert pairs == {(5, 6)}


def test_pairs_within_buckets_property(spark):
    """Property: for any bucketed id multiset, the generator emits
    exactly the distinct unordered cross-bucket-cohabitant pairs with
    id_a < id_b — no self-pairs, no duplicates, nothing across buckets."""
    from itertools import combinations

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from meshtastic_airsensor_database_spark.operators.dedup import (
        pairs_within_buckets,
    )

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 3), st.integers(0, 20)),  # (bucket, id)
            min_size=0, max_size=30,
        )
    )
    def check(rows):
        df = spark.createDataFrame(
            [(b, i) for b, i in rows], "bucket int, _id long"
        ) if rows else spark.createDataFrame([], "bucket int, _id long")
        got = {
            (r.id_a, r.id_b)
            for r in pairs_within_buckets(df, ["bucket"], "_id").collect()
        }
        expected = set()
        buckets = {}
        for b, i in rows:
            buckets.setdefault(b, set()).add(i)
        for ids in buckets.values():
            for x, y in combinations(sorted(ids), 2):
                expected.add((x, y))
        assert got == expected

    check()


def test_ml_minhash_converges_with_handbuilt_lsh(spark, sf_dir):
    """The Spark ML MinHashLSH path and the hand-built banded-LSH +
    exact-verify path find the same near-dup pairs (ML's distance is
    exact Jaccard on the hashed shingle sets; only candidate pruning
    is approximate on both sides)."""
    from meshtastic_airsensor_database_spark.io_utils import load
    from meshtastic_airsensor_database_spark.operators.dedup import (
        minhash_lsh_neardup_pairs,
        ml_minhash_neardup_pairs,
    )

    docs = load(spark, sf_dir, "documents")
    hand = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_neardup_pairs(docs, "doc_id", "text", 0.8).collect()
    }
    ml = {
        (r.id_a, r.id_b): r.jaccard
        for r in ml_minhash_neardup_pairs(docs, "doc_id", "text", 0.8).collect()
    }
    # r7 tightening (ml_minhash_neardups adjudication): the PAIR SET is
    # seeded-exact against the oracle-pinned hand-built path, and the
    # reported jaccard VALUES must agree too — ML computes exact Jaccard
    # on the 2^18-dim hashed shingle sets, so any gap beyond rare
    # hashing-trick collisions (tolerance 5e-3) is a real divergence.
    assert hand and set(hand) == set(ml)
    for pair, j in ml.items():
        assert abs(j - hand[pair]) <= 5e-3, (pair, j, hand[pair])


# --- connected components -----------------------------------------------------


def _uf_components(n_nodes, edges):
    """Union-find ground truth: node -> min reachable id."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in range(n_nodes) if any(x in e for e in edges)}


def _cc_spark(spark, edges):
    from meshtastic_airsensor_database_spark.operators.dedup import (
        connected_components,
    )

    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    return {r.node: r.component for r in connected_components(df).collect()}


def test_connected_components_shapes(spark):
    """Chain (worst case for label propagation), clique, star, disjoint
    pairs, duplicate/reversed edges -- vs union-find ground truth."""
    chain = [(i, i + 1) for i in range(12)]
    clique = [(a, b) for a in range(20, 25) for b in range(a + 1, 25)]
    star = [(30, v) for v in range(31, 36)]
    dupes = [(40, 41), (41, 40), (40, 41), (50, 51)]
    edges = chain + clique + star + dupes
    got = _cc_spark(spark, edges)
    want = _uf_components(60, edges)
    assert got == want


def test_connected_components_merge_order(spark):
    """Components that only merge through a high-id bridge node."""
    edges = [(1, 100), (100, 2), (3, 101), (101, 4), (2, 3)]
    got = _cc_spark(spark, edges)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 100: 1, 101: 1}


def test_connected_components_nonconvergence_raises(spark):
    """The max_iterations guard must fail loudly, not run unbounded."""
    import pytest

    from meshtastic_airsensor_database_spark.operators.dedup import (
        connected_components,
    )

    df = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="no convergence in 0"):
        connected_components(df, max_iterations=0)


def test_connected_components_reliable_checkpoint_path(spark, tmp_path):
    """With a checkpoint dir set, rounds truncate lineage via reliable
    checkpoint() (survives executor loss on a cluster) and results are
    unchanged."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    sc.setCheckpointDir(str(tmp_path / "cc_ckpt"))
    try:
        edges = [(i, i + 1) for i in range(8)] + [(20, 21)]
        got = _cc_spark(spark, edges)
        want = _uf_components(30, edges)
        assert got == want
        import os

        assert os.listdir(tmp_path / "cc_ckpt")  # checkpoints actually written
    finally:
        # reset to None (py4j name-mangles the Scala setter)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(spark._jvm.scala.Option.empty())
        assert sc.getCheckpointDir() is None


def test_connected_components_empty(spark):
    from meshtastic_airsensor_database_spark.operators.dedup import (
        connected_components,
    )

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty).collect() == []


def test_neardup_clusters_decision(spark):
    """keep = min-id per transitive near-dup cluster; non-dup docs keep."""
    from meshtastic_airsensor_database_spark.operators.dedup import neardup_clusters

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 8
    rows = [
        (0, base),
        (1, base + "tail one"),            # near-dup of 0
        (2, base + "tail one two"),        # near-dup of 1 (chain -> same cluster)
        (3, "completely different text about spark catalyst planning " * 6),
        (4, "completely different text about spark catalyst planning " * 6),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: (r.component_id, r.keep) for r in
           neardup_clusters(df, "doc_id", "text", threshold=0.7).collect()}
    assert out[0] == (0, True)
    assert out[1] == (0, False)
    assert out[2] == (0, False)
    assert out[3] == (3, True)
    assert out[4] == (3, False)


# --- incremental (delta) near-dedup ------------------------------------------


class TestDeltaNeardup:
    def _mk(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    # 12+-token bodies so 3-gram shingles overlap heavily for the
    # near-dup pairs and not at all for the unique docs.
    BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    NEAR = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"
    OTHER = "one two three four five six seven eight nine ten eleven twelve"
    OTHER2 = "one two three four five six seven eight nine ten eleven thirteen"

    def test_sides_and_orientation(self, spark):
        from meshtastic_airsensor_database_spark.operators.dedup import (
            delta_neardup_pairs,
        )

        corpus = self._mk(spark, [(1, self.BASE), (2, "unique corpus words " * 3)])
        batch = self._mk(
            spark, [(10, self.NEAR), (11, self.OTHER), (12, self.OTHER2)]
        )
        got = {
            (r.batch_id, r.match_id, r.match_side)
            for r in delta_neardup_pairs(batch, corpus, "doc_id", "text", 0.8).collect()
        }
        assert (10, 1, "corpus") in got  # batch doc matching the index
        assert (11, 12, "batch") in got  # batch-internal pair, id-ordered
        assert all(b < m for (b, m, s) in got if s == "batch")
        assert len(got) == 2  # nothing else matches

    def test_matches_full_pipeline_on_union(self, spark, sf_dir):
        """delta(batch, corpus) must find exactly the full-corpus
        pipeline's pairs that touch the batch (same bands, same verify
        threshold), with orientation adjusted."""
        from meshtastic_airsensor_database_spark.operators.dedup import (
            delta_neardup_pairs,
        )
        from meshtastic_airsensor_database_spark.plans.textq import (
            NEARDUP_SAMPLE_MAX_ID,
        )

        docs = load(spark, sf_dir, "documents").filter(
            F.col("doc_id") < NEARDUP_SAMPLE_MAX_ID
        )
        batch = docs.filter(F.col("doc_id") % 3 == 0)
        corpus = docs.filter(F.col("doc_id") % 3 != 0)
        got = {
            (r.batch_id, r.match_id)
            for r in delta_neardup_pairs(batch, corpus, "doc_id", "text", 0.8).collect()
        }
        full = minhash_lsh_neardup_pairs(docs, "doc_id", "text", 0.8).collect()
        want = set()
        for r in full:
            a_in, b_in = r.id_a % 3 == 0, r.id_b % 3 == 0
            if a_in:
                want.add((r.id_a, r.id_b))
            elif b_in:
                want.add((r.id_b, r.id_a))
        assert got == want

    def test_prebuilt_index_reused(self, spark):
        from meshtastic_airsensor_database_spark.operators.dedup import (
            delta_neardup_pairs,
            minhash_band_frame,
        )

        corpus = self._mk(spark, [(1, self.BASE)])
        batch = self._mk(spark, [(10, self.NEAR)])
        idx = minhash_band_frame(corpus, "doc_id", "text")
        got = delta_neardup_pairs(
            batch, corpus, "doc_id", "text", 0.8, corpus_index=idx
        ).collect()
        assert [(r.batch_id, r.match_id, r.match_side) for r in got] == [
            (10, 1, "corpus")
        ]

    def test_corpus_shingling_is_semi_join_pruned(self, spark):
        """Exact verification must only tokenize corpus docs that a
        candidate touched: the corpus text scan feeding the shingle
        projection sits under a LeftSemi join in the physical plan."""
        from meshtastic_airsensor_database_spark.operators.dedup import (
            delta_neardup_pairs,
        )

        corpus = self._mk(spark, [(1, self.BASE), (2, self.OTHER)])
        batch = self._mk(spark, [(10, self.NEAR)])
        plan = (
            delta_neardup_pairs(batch, corpus, "doc_id", "text", 0.8)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "LeftSemi" in plan


def test_prefix_filtered_equals_brute_force(spark):
    import random

    from meshtastic_airsensor_database_spark.operators.setjoin import (
        prefix_filtered_jaccard_pairs,
    )

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(30)]
    rows = []
    for i in range(40):
        base = rng.sample(vocab, rng.randint(3, 10))
        rows.append((i, base))
        if rng.random() < 0.5:  # planted near-dup: drop/add one element
            mut = base[:-1] if len(base) > 3 else base + [rng.choice(vocab)]
            rows.append((100 + i, mut))
    df = spark.createDataFrame(rows, "id long, s array<string>")

    def jac(a, b):
        inter = F.size(F.array_intersect(a, b))
        return inter.cast("double") / (F.size(a) + F.size(b) - inter)

    for t in (0.5, 0.7, 0.9):
        got = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in prefix_filtered_jaccard_pairs(df, "id", "s", t, jac).collect()
        }
        a, b = df.alias("a"), df.alias("b")
        brute = {
            (r["id_a"], r["id_b"], round(r["j"], 9))
            for r in a.join(b, F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                jac(F.col("a.s"), F.col("b.s")).alias("j"),
            )
            .where(F.col("j") >= t)
            .collect()
        }
        assert got == brute, f"threshold {t}"


def test_quality_survivor_is_longest_member(spark, sf_dir):
    """The survivor of every cluster must be a member whose n_chars is
    the cluster max (ties broken to the lowest doc_id), and member
    counts must partition the sample."""
    from meshtastic_airsensor_database_spark.io_utils import load
    from meshtastic_airsensor_database_spark.operators.dedup import (
        neardup_clusters,
    )
    from meshtastic_airsensor_database_spark.plans import REGISTRY
    from meshtastic_airsensor_database_spark.plans.textq import (
        NEARDUP_SAMPLE_MAX_ID,
    )

    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < NEARDUP_SAMPLE_MAX_ID
    )
    chars = {r["doc_id"]: r["n_chars"] for r in docs.select("doc_id", "n_chars").collect()}
    members: dict = {}
    for r in neardup_clusters(docs, "doc_id", "text", threshold=0.8).collect():
        members.setdefault(r["component_id"], []).append(r["doc_id"])
    rows = REGISTRY["quality_survivor_docs"].builder(spark, sf_dir).collect()
    assert sum(r["n_members"] for r in rows) == len(chars)
    for r in rows:
        comp = members[r["component_id"]]
        assert len(comp) == r["n_members"]
        best = min(
            comp, key=lambda d: (-chars[d], d)
        )
        assert r["survivor_doc_id"] == best
        assert r["max_chars"] == max(chars[d] for d in comp)
