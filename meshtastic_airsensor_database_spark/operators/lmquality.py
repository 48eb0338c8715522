"""Language-model quality scoring and duplicated-span detection.

Two corpus-statistics curation gates a pretraining pipeline runs after
the cheap per-document heuristics (operators/curation.py) and before
tokenization:

- **bigram-LM perplexity** (CCNet, Wenzek et al., arXiv:1911.00359):
  train an n-gram LM on the corpus, score every document's perplexity
  under it, and keep the low-perplexity (fluent) tail. CCNet uses a
  5-gram KenLM; the Spark-native re-expression is a bigram LM with
  additive smoothing so both training and scoring are pure DataFrame
  aggregations/joins — the model IS a DataFrame, not a driver-side
  artifact, so a 100 TB corpus trains and scores without anything ever
  leaving the executors.
- **duplicated-span coverage** (Lee et al., "Deduplicating Training
  Data Makes Language Models Better", arXiv:2107.06499): exact
  substring dedup marks the spans of a document whose token n-grams
  occur verbatim in OTHER documents. The suffix-array construction is
  replaced by the shuffle-friendly equivalent: positional n-grams →
  corpus-wide document-frequency on an 8-byte gram hash → join back →
  per-document interval-union coverage.

Reference parity: the reference pipeline has no LM gate (its quality
filtering is the row-level validity checks in AIRWISEv0.py:126-140);
this is part of the mandated LLM-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens, zipped_ngrams
from ..io_utils import materialize

# Additive-smoothing constant for the bigram LM (add-k; k=0.5 is the
# usual Lidstone compromise between add-one's over-smoothing and MLE's
# zero probabilities).
LM_SMOOTH_K = 0.5

# Token n-gram width for duplicated-span detection. Lee et al. use a
# 50-token threshold on web-scale corpora; the synthetic corpus is
# ~60 tokens/doc, so 8 keeps the same "long enough to be verbatim
# copying, short enough to catch partial overlap" intent at test scale.
DUP_SPAN_NGRAM_N = 8


def _doc_bigrams(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One row per bigram INSTANCE: ``(id, w1, w2)``.

    ``arrays_zip(slice(toks, 1, n-1), slice(toks, 2, n-1))`` pairs each
    token with its successor JVM-side (no Python, no window function —
    a window over a position-exploded table would force a per-doc sort
    shuffle; the zip keeps bigram construction narrow). Documents with
    fewer than 2 tokens contribute no rows.
    """
    toks = tokens(F.col(text_col))
    pairs = F.arrays_zip(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))).alias("w1"),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))).alias("w2"),
    )
    return (
        docs.select(F.col(id_col).alias("id"), F.explode(pairs).alias("bg"))
        .select("id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )


def perplexity_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = LM_SMOOTH_K,
) -> DataFrame:
    """Per-document bigram-LM perplexity over the corpus-trained LM.

    ``P(w2|w1) = (c2 + k) / (c1 + k·V)`` with V = corpus vocabulary
    size; a document's score is ``ppl = exp(-mean ln P)`` over its
    bigram instances. Unseen bigrams never occur here because the LM is
    trained on the same corpus it scores (the CCNet deployment trains
    on a held-out high-quality corpus; the join is identical, the
    smoothing term is what handles its unseen pairs).

    Scale shape: scoring is ONE equi-join of per-doc bigram instances
    against the bigram table on (w1, w2) — Catalyst picks broadcast
    when the LM is small and a shuffled hash join when it is not; the
    context table rides along keyed on w1 (joined onto the bigram
    table first, so the big fact side shuffles once). V is a 1-row
    aggregate crossJoined in (broadcast by definition).

    Returns ``(id, n_bigrams, avg_nll, ppl)``; docs with <2 tokens are
    absent (no bigrams to score).
    """
    # The bigram-instance table is materialized once (the
    # multi-consumed-intermediate rule) but consumed only TWICE — the
    # bigram-count aggregate and the scoring join. Context counts and
    # the vocabulary size both derive from the (much smaller) distinct
    # bigram table instead of re-scanning instances: c1(w1) = Σ_w2 c2
    # and the distinct-word set of distinct bigrams IS the instance
    # vocabulary — integer-exact either way. bigram_counts is itself
    # materialized (3 consumers sit above its exchange; Spark reuses
    # the exchange but re-runs the final aggregate per consumer).
    bg = materialize(_doc_bigrams(docs, text_col, id_col))
    bigram_counts = materialize(
        bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    )
    context_counts = bigram_counts.groupBy("w1").agg(
        F.sum("c2").alias("c1")
    )
    vocab = (
        bigram_counts.select(F.col("w1").alias("w"))
        .union(bigram_counts.select(F.col("w2").alias("w")))
        .agg(F.count_distinct("w").alias("v"))
    )
    lm = (
        bigram_counts.join(context_counts, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            ((F.col("c2") + F.lit(k)) / (F.col("c1") + F.lit(k) * F.col("v"))).alias("p"),
        )
    )
    return (
        bg.join(lm, ["w1", "w2"])
        .groupBy(F.col("id"))
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg(-F.log("p")).alias("avg_nll"),
        )
        .select(
            "id",
            "n_bigrams",
            "avg_nll",
            F.exp("avg_nll").alias("ppl"),
        )
    )


def dup_span_coverage(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = DUP_SPAN_NGRAM_N,
) -> DataFrame:
    """Per-document fraction of token positions covered by an n-gram
    that also occurs in at least one OTHER document.

    The Spark-native exact-substring-dedup statistic: positional
    n-grams (position kept so coverage is an interval union, not a
    gram count) → corpus document-frequency per gram → join dup grams
    back → explode each hit to its n covered positions → distinct
    count per document.

    Scale shape: the DF aggregation and the join both key on
    ``xxhash64`` of the gram (8-byte exchange rows, never gram text —
    same collision tolerance as the decontamination gate: a collision
    can only over-mark a span, ~n²/2⁶⁴). The position explode is a
    bounded ×n amplification applied ONLY to duplicated hits, which on
    a deduplicated corpus is the small minority of rows.

    Returns ``(id, n_tokens, n_dup_grams, covered_tokens,
    dup_fraction)`` for documents with ≥ n tokens.
    """
    toks = tokens(F.col(text_col))
    # zip_with fold, not transform+slice: a lambda capturing ``toks``
    # would re-tokenize the document per gram (functions/text.py::
    # zipped_ngrams documents the trap)
    grams = zipped_ngrams(toks, n, " ")
    pos_grams = (
        docs.where(F.size(toks) >= n)
        .select(
            F.col(id_col).alias("id"),
            F.size(toks).alias("n_tokens"),
            F.posexplode(grams).alias("pos", "gram"),
        )
        .select("id", "n_tokens", "pos", F.xxhash64("gram").alias("gram_key"))
    )
    dup_grams = (
        pos_grams.groupBy("gram_key")
        .agg(F.count_distinct("id").alias("df"))
        .where(F.col("df") >= 2)
        .select("gram_key")
    )
    hits = pos_grams.join(dup_grams, "gram_key")
    covered = (
        hits.select(
            "id",
            "n_tokens",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("cov_pos"),
        )
        .groupBy("id", "n_tokens")
        .agg(F.count_distinct("cov_pos").alias("covered_tokens"))
    )
    dup_gram_counts = hits.groupBy("id").agg(F.count(F.lit(1)).alias("n_dup_grams"))
    base = pos_grams.select("id", "n_tokens").distinct()
    return (
        base.join(dup_gram_counts, "id", "left")
        .join(covered.drop("n_tokens"), "id", "left")
        .select(
            "id",
            "n_tokens",
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
            F.coalesce("covered_tokens", F.lit(0)).cast("long").alias("covered_tokens"),
            (F.coalesce("covered_tokens", F.lit(0)) / F.col("n_tokens")).alias("dup_fraction"),
        )
    )


def exact_span_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = DUP_SPAN_NGRAM_N,
) -> DataFrame:
    """Lee-et-al exact-substring dedup as a TRANSFORM: remove every
    token span whose n-gram occurs verbatim in another document,
    keeping one canonical occurrence corpus-wide.

    Where :func:`dup_span_coverage` only REPORTS duplicated-span
    coverage, this rewrites the corpus the way "Deduplicating Training
    Data Makes Language Models Better" (arXiv:2107.06499 §3) actually
    deduplicates: for each duplicated n-gram, the document with the
    MINIMUM id is the keeper; every other document drops the covered
    token positions. A token survives iff no non-keeper dup-gram
    occurrence in its document covers it.

    Scale shape (mirrors dup_span_coverage): the gram
    document-frequency agg and the join back both key on ``xxhash64``
    of the gram (8-byte exchange rows, never gram text; a hash
    collision can only merge two grams and over-remove ~n²/2⁶⁴ of
    spans). Removed positions aggregate as SPAN STARTS — the covered
    positions expand per document in one array expression
    (``array_distinct(flatten(transform(starts, p → sequence)))``)
    AFTER the per-doc aggregation, so the exchange and the collect_set
    carry one row per dup-gram hit instead of n (measured
    1.72 → 1.33 s at sf0.1, identical outputs). Reconstruction is
    per-row array work — removed positions are aggregated into ONE
    array per affected document and joined back on id, so the rebuild
    join carries only affected docs and the token arrays themselves
    never shuffle. The position filter is an indexed-lambda
    ``F.filter``; ``array_contains`` is O(removed) per token, bounded
    by doc length — fine because both factors are per-document, not
    corpus-sized.

    Returns ``(id, n_tokens, n_removed, kept_tokens)`` for ALL input
    documents (docs shorter than n tokens keep everything).
    """
    toks = tokens(F.col(text_col))
    grams = zipped_ngrams(toks, n, " ")
    pos_grams = (
        docs.where(F.size(toks) >= n)
        .select(F.col(id_col).alias("id"), F.posexplode(grams).alias("pos", "gram"))
        .select("id", "pos", F.xxhash64("gram").alias("gram_key"))
    )
    keepers = (
        pos_grams.groupBy("gram_key")
        .agg(F.min("id").alias("keeper"), F.count_distinct("id").alias("df"))
        .where(F.col("df") >= 2)
        .select("gram_key", "keeper")
    )
    removed = (
        pos_grams.join(keepers, "gram_key")
        .where(F.col("id") != F.col("keeper"))
        .groupBy("id")
        .agg(F.collect_set("pos").alias("_spans"))
        .select(
            "id",
            F.array_distinct(
                F.flatten(
                    F.transform(
                        F.col("_spans"), lambda p: F.sequence(p, p + n - 1)
                    )
                )
            ).alias("removed_pos"),
        )
    )
    base = docs.select(F.col(id_col).alias("id"), toks.alias("toks"))
    joined = base.join(removed, "id", "left").select(
        "id",
        "toks",
        F.coalesce("removed_pos", F.array().cast("array<int>")).alias("removed_pos"),
    )
    kept = F.filter(
        F.col("toks"),
        lambda t, i: ~F.array_contains(F.col("removed_pos"), i),
    )
    return joined.select(
        "id",
        F.size("toks").alias("n_tokens"),
        F.size("removed_pos").alias("n_removed"),
        kept.alias("kept_tokens"),
    )
