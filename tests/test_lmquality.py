"""Tests for operators/lmquality.py — bigram-LM perplexity and
duplicated-span coverage, pinned against hand-computed expectations."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from meshtastic_airsensor_database_spark.operators.lmquality import (
    dup_span_coverage,
    exact_span_dedup,
    perplexity_scores,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestBigramLM:
    def test_perplexity_matches_hand_computation(self, spark):
        docs = _docs(spark, [(1, "a b a b"), (2, "a b c")])
        got = {r.id: r for r in perplexity_scores(docs, k=0.5).collect()}
        # V = |{a,b,c}| = 3; k=0.5 -> kV = 1.5
        p_ab = (3 + 0.5) / (3 + 1.5)  # P(b|a)
        p_ba = (1 + 0.5) / (2 + 1.5)  # P(a|b)
        p_bc = (1 + 0.5) / (2 + 1.5)  # P(c|b)
        nll1 = -(math.log(p_ab) + math.log(p_ba) + math.log(p_ab)) / 3
        nll2 = -(math.log(p_ab) + math.log(p_bc)) / 2
        assert got[1].n_bigrams == 3
        assert got[2].n_bigrams == 2
        assert abs(got[1].avg_nll - nll1) < 1e-12
        assert abs(got[2].avg_nll - nll2) < 1e-12
        assert abs(got[1].ppl - math.exp(nll1)) < 1e-12

    def test_repetitive_doc_scores_lower_perplexity(self, spark):
        # A doc made of the corpus's dominant bigram is more predictable
        # than one of rare transitions — the CCNet gate's core signal.
        docs = _docs(
            spark,
            [(i, "x y x y x y x y") for i in range(5)] + [(99, "y y x x q y")],
        )
        got = {r.id: r.ppl for r in perplexity_scores(docs).collect()}
        assert got[0] < got[99]

    def test_short_docs_absent(self, spark):
        docs = _docs(spark, [(1, "solo"), (2, ""), (3, "a b")])
        ids = {r.id for r in perplexity_scores(docs).collect()}
        assert ids == {3}


class TestDupSpanCoverage:
    def test_exact_duplicates_fully_covered(self, spark):
        text = "one two three four five six seven eight nine ten"
        docs = _docs(spark, [(1, text), (2, text)])
        rows = {r.id: r for r in dup_span_coverage(docs, n=8).collect()}
        # every 8-gram of doc1 occurs in doc2 -> full coverage
        for i in (1, 2):
            assert rows[i].n_tokens == 10
            assert rows[i].n_dup_grams == 3  # positions 0,1,2
            assert rows[i].covered_tokens == 10
            assert rows[i].dup_fraction == 1.0

    def test_unique_docs_zero_coverage(self, spark):
        docs = _docs(
            spark,
            [
                (1, "a b c d e f g h i j"),
                (2, "k l m n o p q r s t"),
            ],
        )
        rows = {r.id: r for r in dup_span_coverage(docs, n=8).collect()}
        assert all(r.n_dup_grams == 0 and r.covered_tokens == 0 for r in rows.values())

    def test_partial_shared_span_interval_union(self, spark):
        # doc1 and doc2 share exactly one 8-token span at different
        # offsets; coverage counts the UNION of positions, not n*hits.
        shared = "s1 s2 s3 s4 s5 s6 s7 s8"
        docs = _docs(
            spark,
            [
                (1, f"u1 u2 {shared} u3 u4"),  # span at pos 2..9 of 12
                (2, f"{shared} v1 v2 v3 v4"),  # span at pos 0..7 of 12
            ],
        )
        rows = {r.id: r for r in dup_span_coverage(docs, n=8).collect()}
        for i in (1, 2):
            assert rows[i].n_tokens == 12
            assert rows[i].n_dup_grams == 1
            assert rows[i].covered_tokens == 8
            assert abs(rows[i].dup_fraction - 8 / 12) < 1e-12

    def test_intra_doc_repetition_not_counted(self, spark):
        # duplication must be CROSS-document (count distinct doc >= 2):
        # a doc repeating its own 8-gram twice stays uncovered.
        span = "r1 r2 r3 r4 r5 r6 r7 r8"
        docs = _docs(
            spark,
            [(1, f"{span} {span}"), (2, "z1 z2 z3 z4 z5 z6 z7 z8 z9")],
        )
        rows = {r.id: r for r in dup_span_coverage(docs, n=8).collect()}
        assert rows[1].n_dup_grams == 0
        assert rows[1].covered_tokens == 0

    def test_short_docs_excluded(self, spark):
        docs = _docs(spark, [(1, "a b c"), (2, "a b c d e f g h")])
        rows = {r.id: r for r in dup_span_coverage(docs, n=8).collect()}
        assert set(rows) == {2}


class TestPlanShape:
    def test_scoring_join_carries_no_text(self, spark):
        """The dup-span exchange must key on the 8-byte gram hash, never
        the gram string (the 100-TB shuffle-size contract)."""
        docs = _docs(spark, [(1, "a b c d e f g h i"), (2, "a b c d e f g h j")])
        plan = dup_span_coverage(docs, n=8)._jdf.queryExecution().executedPlan().toString()
        assert "gram_key" in plan
        # the exploded gram string column must be projected away before
        # any exchange: no plan node below an Exchange mentions `gram`
        # except the hash projection itself
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line:
                assert "gram#" not in line


class TestExactSpanDedup:
    def test_exact_duplicate_loses_everything_keeper_keeps_all(self, spark):
        text = "one two three four five six seven eight nine ten"
        docs = _docs(spark, [(1, text), (2, text)])
        rows = {r.id: r for r in exact_span_dedup(docs, n=8).collect()}
        # doc1 is the min-id keeper: untouched
        assert rows[1].n_removed == 0
        assert rows[1].kept_tokens == text.split()
        # doc2: every position covered by a duplicated 8-gram -> empty
        assert rows[2].n_removed == 10
        assert rows[2].kept_tokens == []

    def test_partial_overlap_removes_only_shared_span(self, spark):
        shared = "one two three four five six seven eight"
        docs = _docs(
            spark,
            [(1, shared + " alpha beta"), (2, shared + " gamma delta")],
        )
        rows = {r.id: r for r in exact_span_dedup(docs, n=8).collect()}
        assert rows[1].n_removed == 0
        assert rows[1].kept_tokens == (shared + " alpha beta").split()
        # doc2 drops the shared 8-token prefix, keeps its unique tail
        assert rows[2].n_removed == 8
        assert rows[2].kept_tokens == ["gamma", "delta"]

    def test_short_and_unique_docs_untouched(self, spark):
        docs = _docs(
            spark,
            [(1, "tiny doc"),
             (2, "p q r s t u v w x y z unique words all the way here")],
        )
        rows = {r.id: r for r in exact_span_dedup(docs, n=8).collect()}
        for rid in (1, 2):
            assert rows[rid].n_removed == 0
            assert rows[rid].n_tokens == len(rows[rid].kept_tokens)

    def test_keeper_is_min_doc_id_across_three_copies(self, spark):
        text = "a b c d e f g h"
        docs = _docs(spark, [(7, text), (3, text), (9, text)])
        rows = {r.id: r for r in exact_span_dedup(docs, n=8).collect()}
        assert rows[3].n_removed == 0 and rows[3].kept_tokens == text.split()
        assert rows[7].kept_tokens == [] and rows[9].kept_tokens == []

    def test_plan_is_join_free_of_cartesian(self, spark):
        docs = _docs(spark, [(1, "a b c d e f g h i"), (2, "a b c d e f g h j")])
        plan = exact_span_dedup(docs)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
