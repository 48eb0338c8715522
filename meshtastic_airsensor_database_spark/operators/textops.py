"""Document-level text analysis operators (SURVEY.md §2.11 text_analysis).

DataFrame-level operators over a corpus: the chunking UDTF, vocabulary
build and encode, and the gram-count passes behind novelty and
cross-source overlap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def chunk_doc_udtf(size: int, stride: int):
    """Python UDTF (Spark 4) emitting overlapping token chunks per
    document — the table-function API surface for row→many-rows
    transforms. NOTE: this is the slow path (per-row Python); the
    production chunker is the pure-built-in formulation in
    plans/textq.py::rag_chunk_spans (sequence + posexplode + slice),
    which this UDTF is parity-tested against. Use the UDTF form when
    the chunking rule needs real Python (custom tokenizers, sentence
    boundaries) that built-ins can't express."""
    from pyspark.sql.functions import udtf

    class _ChunkDoc:
        def eval(self, text):
            if text is None:
                return
            # str.split() == split on \s+ runs after trim — the same
            # tokenization as the built-in chunker
            toks = text.split()
            n = len(toks)
            for i, start in enumerate(range(0, n, stride)):
                end = min(start + size, n)
                yield (i, start, end, end - start, " ".join(toks[start:end]))

    return udtf(
        _ChunkDoc,
        returnType=(
            "chunk_idx: bigint, start_tok: bigint, "
            "end_tok: bigint, n_chunk_tokens: bigint, chunk_text: string"
        ),
    )


def chunk_documents_udtf(
    df: DataFrame, size: int, stride: int, id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Lateral-join the chunking UDTF against a corpus (the lateral
    correlation keeps the left row's id next to each emitted chunk;
    ``.outer()`` marks the argument as a left-side lateral reference)."""
    chunker = chunk_doc_udtf(size, stride)
    return df.lateralJoin(chunker(F.col(text_col).outer())).select(
        id_col, "chunk_idx", "start_tok", "end_tok", "n_chunk_tokens", "chunk_text"
    )


# --- vocabulary encoding (tokens -> ids) --------------------------------------


def build_vocab(df: DataFrame, text_col: str, size: int) -> DataFrame:
    """Top-``size`` terms by DOCUMENT frequency as (term, id) with ids
    0..size-1 assigned by (df DESC, term ASC) — the deterministic
    vocabulary a tokenizer/embedding table is built from.

    Scale shape: explode(array_distinct) -> two-level hash agg for df
    counts (shuffle carries (term, long)), then the top-``size``
    selection is a partial top-k (TakeOrderedAndProject — per-partition
    k rows to one reducer, never a global sort of the vocabulary), and
    the rank window runs on the ALREADY-limited <=size rows. The
    returned table is broadcast-sized by construction.
    """
    from ..functions.text import tokens

    w = Window.orderBy(F.desc("df"), "term")
    return (
        df.where(F.trim(text_col) != "")
        .select(F.explode(F.array_distinct(tokens(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), "term")
        .limit(size)
        .withColumn("token_id", F.row_number().over(w).cast("long") - 1)
    )


def encode_docs(
    df: DataFrame,
    vocab: DataFrame,
    id_col: str,
    text_col: str,
    unk_id: int,
    head: int = 12,
) -> DataFrame:
    """Encode each document's token stream against ``vocab``:
    out-of-vocabulary tokens map to the reserved ``unk_id`` (by
    convention one past the last vocab id; passed explicitly so the
    encode plan never needs an eager count action on the vocab). Returns per-doc token/OOV counts, the OOV rate,
    and the first ``head`` ids as a space-joined string (the
    order-preserving probe both engines can hash-compare).

    Scale shape: posexplode (narrow) -> LEFT BROADCAST join against the
    vocab (dimension-sized by construction, no shuffle of the token
    stream) -> one hash agg per doc_id reassembling order via
    sort_array(collect_list(struct(pos, id))). The only shuffle is the
    per-doc agg, keyed on the doc id.
    """
    from ..functions.text import tokens

    unk = unk_id
    tok = df.where(F.trim(text_col) != "").select(
        F.col(id_col),
        F.posexplode(tokens(text_col)).alias("pos", "term"),
    )
    enc = tok.join(F.broadcast(vocab.select("term", "token_id")), "term", "left").select(
        id_col,
        "pos",
        F.coalesce("token_id", F.lit(unk)).cast("long").alias("tid"),
    )
    ids = F.transform(
        F.sort_array(F.collect_list(F.struct("pos", "tid"))), lambda s: s["tid"]
    )
    return enc.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum((F.col("tid") == unk).cast("long")).cast("long").alias("n_oov"),
        F.concat_ws(" ", F.slice(ids, 1, head).cast("array<string>")).alias("ids_head"),
    )


# --- corpus novelty / cross-source overlap cores ------------------------------
# Shared by the declared queries (plans/textq.py) AND the scale smoke
# (tools/scale_smoke.py) so the benchmark always measures the shipped
# plan shapes.


def hashed_shingle_stream(
    docs: DataFrame, keep: list[str], text_col: str = "text", n: int = 3
) -> DataFrame:
    """``keep... , k`` — one row per (row, distinct word-n-gram), the
    gram pre-hashed to an 8-byte xxhash64 key so no exchange ever
    carries gram strings (collisions only merge two grams' stats,
    ~n²/2⁶⁴ — the operators/curation.py::ngram_decontaminate
    tolerance argument)."""
    from ..functions.text import word_shingles

    return docs.select(
        *keep, F.explode(word_shingles(F.col(text_col), n)).alias("gram")
    ).select(*keep, F.xxhash64("gram").alias("k"))


def novelty_counts(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Per-document ``(id, n_shingles, n_novel)`` — novel = the gram
    occurs in NO other document. Hash aggregates only: a df==1 gram
    belongs to exactly one document, so its owner comes back as
    MIN(id) from the same (k, count, min) partial-aggregated rollup —
    no sort-window ever touches the gram stream."""
    sh = hashed_shingle_stream(
        docs.select(F.col(id_col).alias("_nid"), F.col(text_col).alias("_t")),
        ["_nid"],
        "_t",
        n,
    )
    gram_agg = sh.groupBy("k").agg(
        F.count(F.lit(1)).alias("df"), F.min("_nid").alias("_only")
    )
    novel = (
        gram_agg.filter(F.col("df") == 1)
        .groupBy(F.col("_only").alias("_nid"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_novel"))
    )
    totals = sh.groupBy("_nid").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles")
    )
    return (
        totals.join(novel, "_nid", "left")
        .select(
            F.col("_nid").alias(id_col),
            "n_shingles",
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
        )
    )


def source_shingle_sets(
    docs: DataFrame, text_col: str = "text", source_col: str = "source", n: int = 3
) -> DataFrame:
    """``(k, ss)`` — per distinct gram hash, the SORTED set of sources
    containing it. collect_set IS the dedup (one shuffle of the gram
    stream, map-side partials); the set is bounded by the source
    domain, never the document count."""
    sh = hashed_shingle_stream(
        docs.select(F.col(source_col).alias("_src"), F.col(text_col).alias("_t")),
        ["_src"],
        "_t",
        n,
    )
    return sh.groupBy("k").agg(
        F.array_sort(F.collect_set("_src")).alias("ss")
    )


def bounded_pair_counts(
    sets_df: DataFrame, set_col: str = "ss", a: str = "source_a", b: str = "source_b"
) -> DataFrame:
    """``(a, b, n_common)`` co-occurrence counts via NARROW pair
    expansion of each row's bounded sorted set — the small-domain
    co-occurrence shape: no self-join, fan-out capped at |domain|²
    per row regardless of stream size. ``set_col`` must be a
    materialized column (the inner lambda slices it — a computed
    capture would re-evaluate per element)."""
    pairs = sets_df.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col(set_col),
                    lambda x, i: F.transform(
                        F.slice(F.col(set_col), i + 2, F.size(set_col)),
                        lambda y: F.struct(x.alias(a), y.alias(b)),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.groupBy(f"p.{a}", f"p.{b}").agg(
        F.count(F.lit(1)).cast("long").alias("n_common")
    )


def bounded_pair_and_member_counts(
    sets_df: DataFrame,
    set_col: str = "ss",
    a: str = "source_a",
    b: str = "source_b",
) -> tuple[DataFrame, DataFrame]:
    """One pass that counts BOTH the pair co-occurrences AND each
    member's occurrences over the bounded sorted sets: every row emits
    its C(m,2) pair structs plus m ``(member, NULL)`` singles, and a
    single hash agg counts them all. Separate sizes/pairs passes each
    consume the set stream — the gram-side aggregate (the heavy part)
    ran TWICE because the two consumers sit above the exchange Spark
    can reuse but the final aggregate it cannot. The counted frame is
    bounded by |domain|² rows, so materializing it once makes both
    split reads free. Returns ``(pairs(a, b, n_common),
    sizes(member, n))``."""
    from ..io_utils import materialize

    elem_t = sets_df.schema[set_col].dataType.elementType.simpleString()
    pairs_arr = F.flatten(
        F.transform(
            F.col(set_col),
            lambda x, i: F.transform(
                F.slice(F.col(set_col), i + 2, F.size(set_col)),
                lambda y: F.struct(x.alias(a), y.alias(b)),
            ),
        )
    )
    singles_arr = F.transform(
        F.col(set_col),
        lambda x: F.struct(x.alias(a), F.lit(None).cast(elem_t).alias(b)),
    )
    counted = materialize(
        sets_df.select(F.explode(F.concat(pairs_arr, singles_arr)).alias("p"))
        .groupBy(f"p.{a}", f"p.{b}")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    pairs = counted.filter(F.col(b).isNotNull())
    sizes = counted.filter(F.col(b).isNull()).select(
        F.col(a).alias("member"), F.col("n_common").alias("n")
    )
    return pairs, sizes
