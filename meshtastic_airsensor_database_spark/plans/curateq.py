"""Training-data curation queries over ``documents``: decontamination,
repetition signals, sequence packing (SURVEY.md §2.11 text_analysis /
near_dedup extension surface; operators in operators/curation.py).

Oracle conventions follow plans/base.py: identical tokenization
(``split(trim(lower(text)), '\\s+')``), decimal-routed rounding,
BIGINT casts on integer aggregates, identical column aliases.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..io_utils import fan_out, load
from ..operators.curation import (
    CONTAM_NGRAM_N,
    DSIR_BUCKETS,
    DSIR_SMOOTH,
    dsir_gumbel_topk,
    dsir_importance,
    FFD_BIN_CAPACITY,
    PACK_SHARDS,
    SEQ_LEN,
    chunk_pack_assignment,
    ffd_pack_bins,
    ngram_decontaminate,
    repetition_signals,
)
from ..functions.text import quality_features
from ..io_utils import materialize
from ..operators.lmquality import DUP_SPAN_NGRAM_N, LM_SMOOTH_K
from .base import Query, r
from .textq import _STOPLIST_SQL, SPLIT_TRAIN_PCT, SPLIT_VAL_PCT

# Shared SQL fragments ---------------------------------------------------------

_TOKS = "string_split_regex(trim(lower(text)), '\\s+')"
_N_TOKENS = f"CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOKS}) END"

_SPLIT_CTE = f"""
split_docs AS (
  SELECT doc_id, text,
         CASE WHEN bucket < {SPLIT_TRAIN_PCT} THEN 'train'
              WHEN bucket < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT doc_id, text,
           CAST(CAST(concat('0x', substr(md5(text), 1, 8)) AS UBIGINT) % 100
                AS BIGINT) AS bucket
    FROM documents
  )
)
"""


def _shingle_sql(n: int) -> str:
    """DuckDB mirror of functions/text.py::word_shingles (distinct
    n-grams; short docs yield the whole text as one shingle)."""
    return (
        f"CASE WHEN len({_TOKS}) >= {n} THEN list_distinct(list_transform("
        f"range(1, len({_TOKS}) - {n - 2}), "
        f"i -> array_to_string({_TOKS}[i:i+{n - 1}], ' '))) "
        f"ELSE [array_to_string({_TOKS}, ' ')] END"
    )


def _with_split(docs: DataFrame) -> DataFrame:
    """Spark side of the deterministic content-hash split (same
    derivation as textq.py::doc_split_assignment)."""
    bucket = (
        F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10).cast("long") % 100
    )
    return docs.withColumn(
        "split",
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, "val")
        .otherwise("test"),
    )


# --- decontamination ----------------------------------------------------------


def contaminated_eval_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Val/test documents sharing >= 1 verbatim word-8-gram with any
    train document, under the deterministic content-hash split — the
    train/test leakage report every LLM data pipeline needs before a
    corpus ships."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    return ngram_decontaminate(_with_split(docs))


CONTAMINATED_EVAL_DOCS_SQL = f"""
WITH {_SPLIT_CTE},
sh AS (
  SELECT doc_id, split, {_shingle_sql(CONTAM_NGRAM_N)} AS sh
  FROM split_docs
),
grams AS (SELECT doc_id, split, unnest(sh) AS gram FROM sh),
train_grams AS (SELECT DISTINCT gram FROM grams WHERE split = 'train'),
shared AS (
  SELECT g.doc_id, g.split, COUNT(*) AS n_shared_ngrams
  FROM grams g JOIN train_grams t USING (gram)
  WHERE g.split <> 'train'
  GROUP BY g.doc_id, g.split
)
SELECT s.doc_id, s.split,
       CAST(s.n_shared_ngrams AS BIGINT) AS n_shared_ngrams,
       CAST(len(sh.sh) AS BIGINT) AS n_ngrams,
       CAST(ROUND(CAST(s.n_shared_ngrams::DOUBLE / len(sh.sh)
            AS DECIMAL(38,9)), 4) AS DOUBLE) AS contamination_rate
FROM shared s JOIN sh USING (doc_id)
"""


# --- repetition signals -------------------------------------------------------


def doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher-style repetition/distribution signals:
    duplicate-bigram fraction, top-token fraction, type-token ratio."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    return repetition_signals(docs)


_R4 = "CAST(ROUND(CAST({x} AS DECIMAL(38,9)), 4) AS DOUBLE)"

DOC_REPETITION_SIGNALS_SQL = f"""
WITH base AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents WHERE trim(text) <> ''
),
gs AS (
  SELECT doc_id, len(grams) AS total_bg, len(list_distinct(grams)) AS distinct_bg
  FROM (
    SELECT doc_id,
           CASE WHEN len(toks) >= 2
                THEN list_transform(range(1, len(toks)),
                                    i -> array_to_string(toks[i:i+1], ' '))
                ELSE []::VARCHAR[] END AS grams
    FROM base
  )
),
tc AS (
  SELECT doc_id, MAX(cnt) AS max_cnt, SUM(cnt) AS n_tokens,
         COUNT(*) AS n_distinct
  FROM (
    SELECT doc_id, tok, COUNT(*) AS cnt
    FROM (SELECT doc_id, unnest(toks) AS tok FROM base)
    GROUP BY doc_id, tok
  ) GROUP BY doc_id
)
SELECT gs.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       {_R4.format(x="CASE WHEN total_bg > 0 THEN (total_bg - distinct_bg)::DOUBLE / total_bg ELSE 0.0 END")} AS dup_bigram_frac,
       {_R4.format(x="max_cnt::DOUBLE / n_tokens")} AS top_token_frac,
       {_R4.format(x="n_distinct::DOUBLE / n_tokens")} AS type_token_ratio
FROM gs JOIN tc USING (doc_id)
"""


# --- sequence packing ---------------------------------------------------------


def chunk_pack_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing: each document's (first_seq, last_seq)
    span in the sharded fixed-length token stream."""
    docs = load(spark, sf_dir, "documents")
    return chunk_pack_assignment(docs)


CHUNK_PACK_SPANS_SQL = f"""
SELECT doc_id, shard, n_tokens,
       CAST(FLOOR(cum_before / {SEQ_LEN}) AS BIGINT) AS first_seq,
       CAST(FLOOR((cum_before + n_tokens - 1) / {SEQ_LEN}) AS BIGINT) AS last_seq
FROM (
  SELECT doc_id, shard, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM (
    SELECT doc_id, CAST(doc_id % {PACK_SHARDS} AS INTEGER) AS shard,
           CAST({_N_TOKENS} AS BIGINT) AS n_tokens
    FROM documents
  ) WHERE n_tokens > 0
)
"""


def ffd_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy FFD bin packing per shard. The packing loop is inherently
    sequential per shard (runs inside applyInPandas, one group per
    shard); invariants are pytest-asserted (every doc exactly once, bin
    token sums <= capacity, determinism) AND the whole greedy loop now
    has an exact DuckDB twin: a recursive CTE replays the
    (shard, n_tokens DESC, doc_id) placement sequence carrying the
    per-bin remaining-capacity list as recursion state, resetting it on
    shard change — the r4 verdict's rows-only-shrink item. Oracle-scale
    only (one recursion step per doc); the Spark side is the scale
    path."""
    docs = load(spark, sf_dir, "documents")
    return ffd_pack_bins(docs, capacity=FFD_BIN_CAPACITY)


def _ffd_sql() -> str:
    cap, ns = FFD_BIN_CAPACITY, PACK_SHARDS
    # recursion state s0: bin spaces, reset when the shard changes
    s0 = (
        "(CASE WHEN r.shard IS DISTINCT FROM b.shard "
        "THEN CAST([] AS BIGINT[]) ELSE r.spaces END)"
    )
    # first-fit: lowest-indexed bin with room (1-based; 0 = none)
    fit = (
        f"(CASE WHEN b.n_tokens <= {cap} THEN NULLIF(list_position("
        f"list_transform({s0}, x -> x >= b.n_tokens), true), 0) END)"
    )
    # MATERIALIZED: otherwise DuckDB re-evaluates base (a tokenize and a
    # window over every document) on each recursion step
    return f"""
WITH RECURSIVE base AS MATERIALIZED (
  SELECT doc_id, shard, n_tokens,
         ROW_NUMBER() OVER (ORDER BY shard, n_tokens DESC, doc_id) AS rn
  FROM (
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(doc_id % {ns} AS INTEGER) AS shard,
           CAST(CASE WHEN trim(text) = '' THEN 0
                ELSE len(string_split_regex(trim(lower(text)), '\\s+'))
           END AS BIGINT) AS n_tokens
    FROM documents
  ) WHERE n_tokens > 0
),
rec AS (
  SELECT CAST(0 AS BIGINT) AS rn, CAST(NULL AS INTEGER) AS shard,
         CAST([] AS BIGINT[]) AS spaces, CAST(NULL AS BIGINT) AS doc_id,
         CAST(NULL AS BIGINT) AS n_tokens, CAST(NULL AS BIGINT) AS bin_id
  UNION ALL
  SELECT b.rn, b.shard,
         CASE WHEN {fit} IS NULL
              THEN list_append({s0},
                     CAST(CASE WHEN b.n_tokens <= {cap}
                          THEN {cap} - b.n_tokens ELSE 0 END AS BIGINT))
              ELSE list_transform(range(1, len({s0}) + 1),
                     i -> CASE WHEN i = {fit}
                          THEN {s0}[i] - b.n_tokens ELSE {s0}[i] END)
         END AS spaces,
         b.doc_id, b.n_tokens,
         CAST(CASE WHEN {fit} IS NULL THEN len({s0})
              ELSE {fit} - 1 END AS BIGINT) AS bin_id
  FROM rec r JOIN base b ON b.rn = r.rn + 1
)
SELECT doc_id, shard, n_tokens, bin_id FROM rec WHERE rn > 0
"""


FFD_BIN_PACKING_SQL = _ffd_sql()


# --- PII detection + redaction --------------------------------------------------

# Planted-PII harness: the synthetic corpus contains no emails / IPs /
# phone numbers, so every 10th document gets a deterministic PII suffix
# derived from its id INSIDE the query (both engines plant the exact
# same bytes). The oracle therefore pins the detection counts AND the
# redacted text on inputs with real matches — the same
# golden-fixture-through-the-real-operator discipline as the replay_*
# family. Patterns use only constructs Java regex and RE2 evaluate
# identically (character classes, bounded repetition; no lookaround).
PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_IPV4_RE = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
PII_PHONE_RE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"


def pii_redacted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: count and redact emails / IPv4 addresses / phone
    numbers per document — the compliance gate every pretraining
    pipeline runs before a corpus ships. Redaction order matters
    (emails first: an email's host part must not be half-eaten by the
    IP pattern) and is identical on both engines.

    Scale shape: pure narrow string expressions — three regexp counts
    + three chained regexp_replace per row, no shuffle at all; the
    final projection carries an md5 of the redacted text so the hash
    compare pins every redacted byte without shipping full bodies.
    """
    docs = load(spark, sf_dir, "documents")
    planted = F.when(
        F.col("doc_id") % 10 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 call 555-123-4567"),
        ),
    ).otherwise(F.col("text"))
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(planted, PII_EMAIL_RE, "<EMAIL>"),
            PII_IPV4_RE,
            "<IP>",
        ),
        PII_PHONE_RE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(planted, F.lit(PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(planted, F.lit(PII_IPV4_RE)).cast("long").alias("n_ips"),
        F.regexp_count(planted, F.lit(PII_PHONE_RE)).cast("long").alias("n_phones"),
        F.md5(red).alias("redacted_md5"),
        F.length(red).cast("long").alias("redacted_len"),
    )


PII_REDACTED_DOCS_SQL = f"""
WITH p AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0
              THEN text || ' contact u' || CAST(doc_id AS VARCHAR)
                   || '@mail.example.com from 10.0.'
                   || CAST(doc_id % 256 AS VARCHAR) || '.7 call 555-123-4567'
              ELSE text END AS planted
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(planted, '{PII_EMAIL_RE}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(planted, '{PII_IPV4_RE}')) AS BIGINT)
         AS n_ips,
       CAST(len(regexp_extract_all(planted, '{PII_PHONE_RE}')) AS BIGINT)
         AS n_phones,
       md5(regexp_replace(regexp_replace(regexp_replace(planted,
           '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
           '{PII_IPV4_RE}', '<IP>', 'g'),
           '{PII_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5,
       CAST(len(regexp_replace(regexp_replace(regexp_replace(planted,
           '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
           '{PII_IPV4_RE}', '<IP>', 'g'),
           '{PII_PHONE_RE}', '<PHONE>', 'g')) AS BIGINT) AS redacted_len
FROM p
"""


# --- per-language quota sampling ----------------------------------------------

# Language rebalancing for a training mix: keep 100% of the rarest
# languages and hash-downsample the dominant ones. The keep decision is
# a salted CONTENT hash (md5, same convention as doc_split_assignment):
# deterministic on any engine / cluster size / run — no RNG, no seed
# coordination, no shuffle (one narrow pass; at 100 TB the filter
# happens where the rows live) — and exact duplicates always share a
# fate, so downsampling never changes corpus composition nondeterministically.
# The salt decorrelates these buckets from the train/val/test split
# buckets (the same doc must not be "kept iff it's in train").
QUOTA_PCT = {"en": 35, "zh": 60, "es": 60}  # others keep 100%
QUOTA_DEFAULT_PCT = 100
QUOTA_SALT = "lang-quota-v1:"


def lang_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(QUOTA_SALT), F.col("text"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )
    quota = F.lit(QUOTA_DEFAULT_PCT)
    for lang, pct in QUOTA_PCT.items():
        quota = F.when(F.col("lang") == lang, pct).otherwise(quota)
    return docs.select(
        "doc_id",
        "lang",
        bucket.alias("sample_bucket"),
        (bucket < quota).alias("kept"),
    )


_QUOTA_CASE = " ".join(
    f"WHEN '{lang}' THEN {pct}" for lang, pct in QUOTA_PCT.items()
)

LANG_QUOTA_SAMPLE_SQL = f"""
SELECT doc_id, lang, sample_bucket,
       sample_bucket < (CASE lang {_QUOTA_CASE} ELSE {QUOTA_DEFAULT_PCT} END) AS kept
FROM (
  SELECT doc_id, lang,
         CAST(CAST(concat('0x', substr(md5(concat('{QUOTA_SALT}', text)), 1, 8))
              AS UBIGINT) % 100 AS BIGINT) AS sample_bucket
  FROM documents
)
"""


# --- temperature-scaled language mixture sampling -----------------------------

MIX_ALPHA = 0.7  # the standard multilingual rebalancing temperature
MIX_SALT = "temp-mix-v1:"
MIX_RATE_SCALE = 1_000_000  # fixed-point keep-rate resolution


def temperature_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language rebalancing (the multilingual-corpus
    mixing rule, e.g. mC4/XLM-R: sample language l with probability
    ∝ p_l^α, α<1 upweights tail languages). Per-language keep rate =
    (p_l^(α-1)) / max_l(p_l^(α-1)) — the most-downweighted (largest)
    language anchors at the rate that preserves relative proportions
    p_l^α; the keep decision is the salted content hash (deterministic,
    shuffle-free — same contract as lang_quota_sample).

    Two-pass shape: one hash agg computes language counts (a
    languages-sized frame at any corpus scale), broadcast back onto
    the corpus for the narrow filter pass. The corpus total cancels in
    the rate ratio ((n_l/T)^(α-1) / (n_max/T)^(α-1) == (n_l/n_max)^(α-1)),
    so no separate total pass exists. Keep rates are fixed-point
    (integer millionths, half-up) so both engines derive bit-identical
    thresholds."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_lang"))
    w = F.pow(F.col("n_lang").cast("double"), MIX_ALPHA - 1.0)
    rates = counts.select(
        "lang",
        F.floor(
            (w / F.max(w).over(Window.partitionBy())) * MIX_RATE_SCALE + 0.5
        ).cast("long").alias("keep_millionths"),
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(MIX_SALT), F.col("text"))), 1, 12),
            16,
            10,
        ).cast("long")
        % MIX_RATE_SCALE
    )
    return (
        docs.join(F.broadcast(rates), "lang")
        .select(
            "doc_id",
            "lang",
            "keep_millionths",
            (bucket < F.col("keep_millionths")).alias("kept"),
        )
    )


TEMPERATURE_MIX_SAMPLE_SQL = f"""
WITH counts AS (
  SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang
),
rates AS (
  SELECT lang,
         CAST(FLOOR(POW(n_lang::DOUBLE, {MIX_ALPHA} - 1.0)
              / MAX(POW(n_lang::DOUBLE, {MIX_ALPHA} - 1.0)) OVER ()
              * {MIX_RATE_SCALE} + 0.5) AS BIGINT) AS keep_millionths
  FROM counts
)
SELECT doc_id, d.lang, keep_millionths,
       CAST(CAST(concat('0x', substr(md5(concat('{MIX_SALT}', text)), 1, 12))
            AS UBIGINT) % {MIX_RATE_SCALE} AS BIGINT) < keep_millionths AS kept
FROM documents d JOIN rates ON d.lang = rates.lang
"""


# --- end-to-end curation funnel -----------------------------------------------

# Gate thresholds sized against the testdata signal distributions so
# every stage does real work (drops some docs, keeps most); at
# production scale these are the knobs a data team tunes per corpus.
FUNNEL_MIN_TOKENS = 20
FUNNEL_TOP_TOKEN_MAX = 0.14
FUNNEL_DUP_BIGRAM_MAX = 0.2


def funnel_stages(docs: DataFrame) -> list[tuple[str, DataFrame]]:
    """The curation pipeline's per-stage survivor frames, shared by the
    oracle-checked ``curation_funnel`` query and the ``cli.curate``
    batch driver (one definition, so the CLI ships exactly the
    composition the hash match proves):

    0. raw corpus
    1. per-language quota downsampling (salted content hash)
    2. quality gates (min tokens, top-token fraction, duplicate-bigram
       fraction — Gopher-style)
    3. exact-dedup survivors (min-id per md5 fingerprint)
    4. train split only (deterministic content-hash split)
    5. decontamination (drop train docs sharing a word-8-gram with any
       val/test document of the original corpus)
    """
    from ..functions.text import word_shingles
    from ..operators.dedup import exact_dedup

    # 1. language quota (same derivation as lang_quota_sample)
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(QUOTA_SALT), F.col("text"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )
    quota = F.lit(QUOTA_DEFAULT_PCT)
    for lang, pct in QUOTA_PCT.items():
        quota = F.when(F.col("lang") == lang, pct).otherwise(quota)
    s1 = docs.filter(bucket < quota)

    # 2. quality gates over the survivors
    sig = repetition_signals(s1)
    s2 = (
        s1.join(sig, "doc_id")
        .filter(
            (F.col("n_tokens") >= FUNNEL_MIN_TOKENS)
            & (F.col("top_token_frac") <= FUNNEL_TOP_TOKEN_MAX)
            & (F.col("dup_bigram_frac") <= FUNNEL_DUP_BIGRAM_MAX)
        )
        .select(*docs.columns)
    )

    # 3. exact-dedup survivors (min doc_id per content fingerprint)
    s3 = s2.join(
        exact_dedup(s2, "doc_id", "text").select(F.col("keep_id").alias("doc_id")),
        "doc_id",
    )

    # 4. train split
    s4 = _with_split(s3).filter(F.col("split") == "train").drop("split")

    # 5. decontaminate against the ORIGINAL corpus's val/test docs
    eval_grams = (
        _with_split(docs)
        .filter(F.col("split") != "train")
        .select(F.explode(word_shingles(F.col("text"), CONTAM_NGRAM_N)).alias("gram"))
        .select(F.xxhash64("gram").alias("gram_key"))
        .distinct()
    )
    train_grams = s4.select(
        "doc_id", F.explode(word_shingles(F.col("text"), CONTAM_NGRAM_N)).alias("gram")
    ).select("doc_id", F.xxhash64("gram").alias("gram_key"))
    contaminated = train_grams.join(eval_grams, "gram_key").select("doc_id").distinct()
    s5 = s4.join(contaminated, "doc_id", "left_anti")

    return [
        ("all", docs),
        ("lang_quota", s1),
        ("quality", s2),
        ("exact_dedup", s3),
        ("train_split", s4),
        ("decontaminated", s5),
    ]


def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole pretraining-corpus pipeline as ONE composed lineage —
    per-stage surviving-document counts (stage list in
    ``funnel_stages``). Every stage reuses the independently
    oracle-checked operator (lang_quota_sample, doc_repetition_signals,
    exact_dedup, doc_split_assignment, ngram_decontaminate mirror); the
    funnel's oracle re-implements the full chain as one CTE cascade, so
    the hash match proves the COMPOSITION (gate order, survivor
    propagation), not just the parts. Scale: one lineage, no collects —
    counts aggregate map-side; the only wide ops are the dedup
    fingerprint agg and the decontamination gram join, both on hashed
    keys.
    """
    docs = fan_out(load(spark, sf_dir, "documents"))
    stages = funnel_stages(docs)

    def cnt(df: DataFrame, idx: int, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("long").alias("n_docs")).select(
            F.lit(idx).cast("int").alias("stage_idx"),
            F.lit(name).alias("stage"),
            "n_docs",
        )

    out = None
    for idx, (name, df) in enumerate(stages):
        c = cnt(df, idx, name)
        out = c if out is None else out.unionByName(c)
    return out


_QUALITY_SIG_CTES = f"""
base AS (
  SELECT doc_id, {_TOKS} AS toks FROM q1 WHERE trim(text) <> ''
),
gs AS (
  SELECT doc_id, len(grams) AS total_bg, len(list_distinct(grams)) AS distinct_bg
  FROM (
    SELECT doc_id,
           CASE WHEN len(toks) >= 2
                THEN list_transform(range(1, len(toks)),
                                    i -> array_to_string(toks[i:i+1], ' '))
                ELSE []::VARCHAR[] END AS grams
    FROM base
  )
),
tc AS (
  SELECT doc_id, MAX(cnt) AS max_cnt, SUM(cnt) AS n_tokens
  FROM (
    SELECT doc_id, tok, COUNT(*) AS cnt
    FROM (SELECT doc_id, unnest(toks) AS tok FROM base)
    GROUP BY doc_id, tok
  ) GROUP BY doc_id
),
sig AS (
  SELECT gs.doc_id, n_tokens,
         {_R4.format(x="CASE WHEN total_bg > 0 THEN (total_bg - distinct_bg)::DOUBLE / total_bg ELSE 0.0 END")} AS dup_bigram_frac,
         {_R4.format(x="max_cnt::DOUBLE / n_tokens")} AS top_token_frac
  FROM gs JOIN tc USING (doc_id)
)
"""

CURATION_FUNNEL_SQL = f"""
WITH q1 AS (
  SELECT doc_id, text, lang FROM (
    SELECT doc_id, text, lang,
           CAST(CAST(concat('0x', substr(md5(concat('{QUOTA_SALT}', text)), 1, 8))
                AS UBIGINT) % 100 AS BIGINT) AS bucket
    FROM documents
  ) WHERE bucket < (CASE lang {_QUOTA_CASE} ELSE {QUOTA_DEFAULT_PCT} END)
),
{_QUALITY_SIG_CTES},
q2 AS (
  SELECT q1.* FROM q1 JOIN sig USING (doc_id)
  WHERE n_tokens >= {FUNNEL_MIN_TOKENS}
    AND top_token_frac <= {FUNNEL_TOP_TOKEN_MAX}
    AND dup_bigram_frac <= {FUNNEL_DUP_BIGRAM_MAX}
),
q3 AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM q2
  ) WHERE rn = 1
),
splitb AS (
  SELECT doc_id, text,
         CAST(CAST(concat('0x', substr(md5(text), 1, 8)) AS UBIGINT) % 100
              AS BIGINT) AS sb
  FROM q3
),
q4 AS (SELECT doc_id, text FROM splitb WHERE sb < {SPLIT_TRAIN_PCT}),
ev AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           CAST(CAST(concat('0x', substr(md5(text), 1, 8)) AS UBIGINT) % 100
                AS BIGINT) AS sb
    FROM documents
  ) WHERE sb >= {SPLIT_TRAIN_PCT}
),
evg AS (
  SELECT DISTINCT unnest({_shingle_sql(CONTAM_NGRAM_N)}) AS gram FROM ev
),
q4g AS (
  SELECT doc_id, unnest({_shingle_sql(CONTAM_NGRAM_N)}) AS gram FROM q4
),
contam AS (SELECT DISTINCT doc_id FROM q4g JOIN evg USING (gram)),
q5 AS (SELECT * FROM q4 WHERE doc_id NOT IN (SELECT doc_id FROM contam))
SELECT CAST(0 AS INTEGER) AS stage_idx, 'all' AS stage,
       CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs
UNION ALL SELECT 1, 'lang_quota', (SELECT COUNT(*) FROM q1)
UNION ALL SELECT 2, 'quality', (SELECT COUNT(*) FROM q2)
UNION ALL SELECT 3, 'exact_dedup', (SELECT COUNT(*) FROM q3)
UNION ALL SELECT 4, 'train_split', (SELECT COUNT(*) FROM q4)
UNION ALL SELECT 5, 'decontaminated', (SELECT COUNT(*) FROM q5)
"""


# --- bigram-LM perplexity (CCNet-style quality gate) --------------------------

def doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM perplexity (operators/lmquality.py).

    CCNet's LM quality gate re-expressed Spark-first: the LM is trained
    as a DataFrame aggregation over the same corpus and scoring is one
    equi-join — nothing model-shaped ever reaches the driver.
    """
    from ..operators.lmquality import perplexity_scores

    docs = fan_out(load(spark, sf_dir, "documents"))
    s = perplexity_scores(docs)
    return s.select(
        F.col("id").alias("doc_id"),
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        r(F.col("avg_nll"), 4).alias("avg_nll"),
        r(F.col("ppl"), 2).alias("ppl"),
    )


DOC_PERPLEXITY_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
),
bg AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, UNNEST(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
v AS (
  SELECT COUNT(DISTINCT w) AS v
  FROM (SELECT w1 AS w FROM bg UNION ALL SELECT w2 FROM bg)
),
lm AS (
  SELECT w1, w2, (c2 + {LM_SMOOTH_K}) / (c1 + {LM_SMOOTH_K} * v) AS p
  FROM c2 JOIN c1 USING (w1) CROSS JOIN v
)
SELECT bg.doc_id AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(ROUND(CAST(AVG(-ln(p)) AS DECIMAL(38,9)), 4) AS DOUBLE) AS avg_nll,
       CAST(ROUND(CAST(exp(AVG(-ln(p))) AS DECIMAL(38,9)), 2) AS DOUBLE) AS ppl
FROM bg JOIN lm USING (w1, w2)
GROUP BY 1
"""


CCNET_BUCKETS = 3


def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail selection step (arXiv:1911.00359):
    rank each language's documents by bigram-LM perplexity and cut
    into terciles — 'head' is the LM-fluent slice a CCNet-style
    pipeline keeps, 'tail' the noise it drops. Completes the quality
    story: doc_perplexity SCORES, this SELECTS.

    Ranking uses the ROUNDED perplexity (cross-engine-stable order,
    doc_id tie-break), so the ntile cut is deterministic on both
    engines. Scale shape: scoring is the LM equi-join (nothing
    model-shaped on the driver), the cut is one keyed window per
    language over doc-grain rows, then a 3xlangs-row aggregate.
    """
    from pyspark.sql import Window

    from ..operators.lmquality import perplexity_scores

    docs = fan_out(load(spark, sf_dir, "documents"))
    s = perplexity_scores(docs).select(
        F.col("id").alias("doc_id"), r(F.col("ppl"), 2).alias("ppl")
    )
    j = docs.select("doc_id", "lang").join(s, "doc_id")
    w = Window.partitionBy("lang").orderBy(F.col("ppl").asc(), F.col("doc_id"))
    name = (
        F.when(F.col("_b") == 1, "head")
        .when(F.col("_b") == 2, "middle")
        .otherwise("tail")
    )
    return (
        j.withColumn("_b", F.ntile(CCNET_BUCKETS).over(w))
        .groupBy("lang", name.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("ppl").alias("min_ppl"),
            F.max("ppl").alias("max_ppl"),
        )
    )


CCNET_PERPLEXITY_BUCKETS_SQL = f"""
WITH scored AS (
  {DOC_PERPLEXITY_SQL}
),
j AS (
  SELECT s.doc_id, d.lang, s.ppl
  FROM scored s JOIN documents d USING (doc_id)
),
b AS (
  SELECT lang, ppl,
         ntile({CCNET_BUCKETS}) OVER (
           PARTITION BY lang ORDER BY ppl, doc_id
         ) AS _b
  FROM j
)
SELECT lang,
       CASE _b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(ppl) AS min_ppl,
       MAX(ppl) AS max_ppl
FROM b GROUP BY 1, 2
"""


BATCH_DOCS = 32


def length_grouped_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-grouped training batches: within each shard, sort
    documents longest-first and cut into fixed-size batches of
    ``BATCH_DOCS`` — the dynamic-batching trick that puts similar
    lengths together so each batch pads to its own max, not the
    corpus max. Output per (shard, batch): population, max/sum tokens
    and the padding fraction actually wasted — the metric a training
    loader tunes against.

    Scale shape: tokens counted in a narrow projection, ONE rank
    window per shard (``PACK_SHARDS``-way parallel, the chunk-pack
    sharding convention — never a global sort), then a (shard, batch)
    hash aggregate.
    """
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    n_tokens = F.when(F.trim("text") == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
    )
    base = docs.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(PACK_SHARDS)).cast("int").alias("shard"),
        n_tokens.cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    w = Window.partitionBy("shard").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id")
    )
    b = base.withColumn(
        "batch",
        F.floor((F.row_number().over(w) - 1) / BATCH_DOCS).cast("long"),
    )
    return b.groupBy("shard", "batch").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        r(
            1.0
            - F.sum("n_tokens").cast("double")
            / (F.count(F.lit(1)) * F.max("n_tokens")).cast("double"),
            4,
        ).alias("padding_frac"),
    )


LENGTH_GROUPED_BATCHES_SQL = f"""
WITH base AS (
  SELECT doc_id,
         CAST(doc_id % {PACK_SHARDS} AS INTEGER) AS shard,
         CAST({_N_TOKENS} AS BIGINT) AS n_tokens
  FROM documents
),
ranked AS (
  SELECT shard, n_tokens,
         CAST(FLOOR((row_number() OVER (
           PARTITION BY shard ORDER BY n_tokens DESC, doc_id
         ) - 1) / {BATCH_DOCS}) AS BIGINT) AS batch
  FROM base WHERE n_tokens > 0
)
SELECT shard, batch,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(ROUND(CAST(
         1.0 - SUM(n_tokens)::DOUBLE / (COUNT(*) * MAX(n_tokens))::DOUBLE
       AS DECIMAL(38,9)), 4) AS DOUBLE) AS padding_frac
FROM ranked GROUP BY 1, 2
"""


# --- duplicated-span coverage (exact-substring dedup statistic) ---------------

def dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-document duplicated-span coverage
    (operators/lmquality.py, Lee et al. arXiv:2107.06499)."""
    from ..operators.lmquality import dup_span_coverage

    docs = fan_out(load(spark, sf_dir, "documents"))
    s = dup_span_coverage(docs)
    return s.select(
        F.col("id").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "n_dup_grams",
        "covered_tokens",
        r(F.col("dup_fraction"), 4).alias("dup_fraction"),
    )


DUP_SPAN_STATS_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
),
pg AS (
  SELECT doc_id AS id, len(t) AS n_tokens, i - 1 AS pos,
         array_to_string(t[i:i + {DUP_SPAN_NGRAM_N} - 1], ' ') AS gram
  FROM toks, UNNEST(range(1, len(t) - {DUP_SPAN_NGRAM_N} + 2)) AS u(i)
  WHERE len(t) >= {DUP_SPAN_NGRAM_N}
),
dup AS (SELECT gram FROM pg GROUP BY gram HAVING COUNT(DISTINCT id) >= 2),
hits AS (SELECT pg.* FROM pg JOIN dup USING (gram)),
cov AS (
  SELECT id, n_tokens, COUNT(DISTINCT cp) AS covered_tokens
  FROM hits, UNNEST(range(pos, pos + {DUP_SPAN_NGRAM_N})) AS c(cp)
  GROUP BY 1, 2
),
ndup AS (SELECT id, COUNT(*) AS n_dup_grams FROM hits GROUP BY 1),
base AS (SELECT DISTINCT id, n_tokens FROM pg)
SELECT base.id AS doc_id,
       CAST(base.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
       CAST(COALESCE(covered_tokens, 0) AS BIGINT) AS covered_tokens,
       CAST(ROUND(CAST(COALESCE(covered_tokens, 0) / base.n_tokens
                       AS DECIMAL(38,9)), 4) AS DOUBLE) AS dup_fraction
FROM base
LEFT JOIN ndup USING (id)
LEFT JOIN cov USING (id)
"""


# --- exact-substring dedup transform (arXiv:2107.06499 §3) --------------------

def span_deduped_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup as a transform: every duplicated word
    8-gram span is removed from all but its minimum-doc_id keeper, and
    the surviving token stream is fingerprinted (operators/lmquality.py
    ::exact_span_dedup — the removal twin of ``dup_span_stats``).

    The value compare hashes the REBUILT text (md5 of the kept tokens
    joined by spaces), so the oracle checks the reconstruction
    end-to-end, not just the removal counts.
    """
    from ..operators.lmquality import exact_span_dedup

    docs = fan_out(load(spark, sf_dir, "documents"))
    d = exact_span_dedup(docs)
    return d.select(
        F.col("id").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_removed").cast("long").alias("n_removed"),
        F.size("kept_tokens").cast("long").alias("n_kept"),
        F.md5(F.array_join("kept_tokens", " ")).alias("kept_md5"),
    )


SPAN_DEDUPED_DOCS_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
),
pg AS (
  SELECT doc_id AS id, i - 1 AS pos,
         array_to_string(t[i:i + {DUP_SPAN_NGRAM_N} - 1], ' ') AS gram
  FROM toks, UNNEST(range(1, len(t) - {DUP_SPAN_NGRAM_N} + 2)) AS u(i)
  WHERE len(t) >= {DUP_SPAN_NGRAM_N}
),
keep AS (
  SELECT gram, MIN(id) AS keeper
  FROM pg GROUP BY gram HAVING COUNT(DISTINCT id) >= 2
),
rem AS (
  SELECT DISTINCT pg.id, cp
  FROM pg JOIN keep USING (gram),
       UNNEST(range(pg.pos, pg.pos + {DUP_SPAN_NGRAM_N})) AS c(cp)
  WHERE pg.id <> keep.keeper
),
tokpos AS (
  SELECT doc_id AS id, i - 1 AS pos, t[i] AS tok
  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
),
kept AS (
  SELECT tp.id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         md5(array_to_string(list(tp.tok ORDER BY tp.pos), ' ')) AS kept_md5
  FROM tokpos tp
  ANTI JOIN rem ON rem.id = tp.id AND rem.cp = tp.pos
  GROUP BY 1
),
nrem AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_removed FROM rem GROUP BY id),
base AS (SELECT doc_id AS id, len(t) AS n_tokens FROM toks)
SELECT base.id AS doc_id,
       CAST(base.n_tokens AS BIGINT) AS n_tokens,
       COALESCE(nrem.n_removed, 0) AS n_removed,
       COALESCE(kept.n_kept, 0) AS n_kept,
       COALESCE(kept.kept_md5, md5('')) AS kept_md5
FROM base
LEFT JOIN nrem USING (id)
LEFT JOIN kept ON kept.id = base.id
"""


# --- DSIR importance resampling (arXiv:2302.03169) ----------------------------

DSIR_TARGET_LANG = "en"
DSIR_SAMPLE_K = 50


def dsir_sampled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection end to end: hashed-unigram importance
    weights (target = the ``lang='en'`` slice vs the whole corpus),
    then a deterministic Gumbel top-k sample of ``DSIR_SAMPLE_K``
    documents from softmax(imp_w) (operators/curation.py:
    dsir_importance / dsir_gumbel_topk; scale notes there — two
    bounded-width shuffles + one broadcast join + partial top-k).

    Rounding happens AFTER selection: the top-k keys are compared
    unrounded (both engines), the projected doubles are decimal-routed
    to 4 places for the hash compare.
    """
    docs = fan_out(load(spark, sf_dir, "documents"))
    imp = dsir_importance(docs, F.col("lang") == DSIR_TARGET_LANG)
    picked = dsir_gumbel_topk(docs, imp, DSIR_SAMPLE_K)
    return picked.select(
        "doc_id",
        "lang",
        r("imp_w", 4).alias("imp_w"),
        r("gumbel_key", 4).alias("gumbel_key"),
    )


DSIR_SAMPLED_DOCS_SQL = f"""
WITH toks AS (
  SELECT doc_id, (lang = '{DSIR_TARGET_LANG}') AS is_target,
         unnest({_TOKS}) AS tok
  FROM documents WHERE trim(text) <> ''
),
tb AS (
  SELECT doc_id, is_target,
         CAST(CAST(concat('0x', substr(md5(tok), 1, 8)) AS UBIGINT)
              % {DSIR_BUCKETS} AS BIGINT) AS bucket
  FROM toks
),
counts AS (
  SELECT bucket,
         SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS tgt,
         COUNT(*) AS raw
  FROM tb GROUP BY bucket
),
weights AS (
  SELECT bucket,
         ln((tgt + {DSIR_SMOOTH}) / (SUM(tgt) OVER () + {DSIR_SMOOTH} * {DSIR_BUCKETS}))
       - ln((raw + {DSIR_SMOOTH}) / (SUM(raw) OVER () + {DSIR_SMOOTH} * {DSIR_BUCKETS})) AS lw
  FROM counts
),
imp AS (
  SELECT doc_id, SUM(lw) AS imp_w
  FROM tb JOIN weights USING (bucket) GROUP BY doc_id
),
keyed AS (
  SELECT i.doc_id, d.lang, i.imp_w,
         i.imp_w + (-ln(-ln(
           (CAST(concat('0x', substr(md5(CAST(i.doc_id AS VARCHAR)), 1, 8))
                 AS UBIGINT) + 0.5) / 4294967296.0))) AS gumbel_key
  FROM imp i JOIN documents d USING (doc_id)
)
SELECT doc_id, lang,
       CAST(ROUND(CAST(imp_w AS DECIMAL(38,9)), 4) AS DOUBLE) AS imp_w,
       CAST(ROUND(CAST(gumbel_key AS DECIMAL(38,9)), 4) AS DOUBLE) AS gumbel_key
FROM keyed
ORDER BY gumbel_key DESC, doc_id
LIMIT {DSIR_SAMPLE_K}
"""


# --- corpus drift: population stability index over hashed-token buckets -------

PSI_BUCKETS = 256
PSI_SMOOTH = 0.5


def token_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between the train and val slices of the
    content-hash split, measured as per-bucket Population Stability
    Index contributions over hashed-unigram buckets — the monitoring
    gate a production pipeline runs between corpus snapshots (PSI =
    sum (p-q) ln(p/q); buckets make it O(B), not O(vocab)).

    Scale shape: one explode -> hash agg to <= PSI_BUCKETS rows with
    conditional sums per slice (map-side partials; the shuffle carries
    (bucket, 2 longs)), totals via a window over the tiny bucket
    table, PSI algebra as narrow expressions. Same md5 bucket + add-a
    smoothing construction as DSIR (operators/curation.py).
    """
    docs = fan_out(load(spark, sf_dir, "documents"))
    bucket100 = (
        F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10).cast("long") % 100
    )
    split = (
        F.when(bucket100 < SPLIT_TRAIN_PCT, "train")
        .when(bucket100 < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    toks = (
        docs.where(F.trim("text") != "")
        .select(split.alias("split"), F.explode(tokens("text")).alias("tok"))
        .where(F.col("split").isin("train", "val"))
    )
    tb = toks.select(
        "split",
        (F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
         % PSI_BUCKETS).alias("bucket"),
    )
    counts = tb.groupBy("bucket").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).cast("long").alias("c_train"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0)).cast("long").alias("c_val"),
    )
    w = Window.partitionBy()
    p = (F.col("c_train") + PSI_SMOOTH) / (
        F.sum("c_train").over(w) + PSI_SMOOTH * PSI_BUCKETS
    )
    q = (F.col("c_val") + PSI_SMOOTH) / (
        F.sum("c_val").over(w) + PSI_SMOOTH * PSI_BUCKETS
    )
    return counts.select(
        "bucket",
        "c_train",
        "c_val",
        r((p - q) * F.log(p / q), 6).alias("psi_contrib"),
    )


TOKEN_DRIFT_PSI_SQL = f"""
WITH toks AS (
  SELECT CASE WHEN bucket100 < {SPLIT_TRAIN_PCT} THEN 'train'
              WHEN bucket100 < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
              ELSE 'test' END AS split,
         unnest({_TOKS}) AS tok
  FROM (
    SELECT text,
           CAST(CAST(concat('0x', substr(md5(text), 1, 8)) AS UBIGINT) % 100
                AS BIGINT) AS bucket100
    FROM documents WHERE trim(text) <> ''
  )
),
tb AS (
  SELECT split,
         CAST(CAST(concat('0x', substr(md5(tok), 1, 8)) AS UBIGINT)
              % {PSI_BUCKETS} AS BIGINT) AS bucket
  FROM toks WHERE split IN ('train', 'val')
),
counts AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS c_train,
         CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS c_val
  FROM tb GROUP BY bucket
)
SELECT bucket, c_train, c_val,
       CAST(ROUND(CAST(
         ((c_train + {PSI_SMOOTH}) / (SUM(c_train) OVER () + {PSI_SMOOTH} * {PSI_BUCKETS})
          - (c_val + {PSI_SMOOTH}) / (SUM(c_val) OVER () + {PSI_SMOOTH} * {PSI_BUCKETS}))
         * ln(((c_train + {PSI_SMOOTH}) / (SUM(c_train) OVER () + {PSI_SMOOTH} * {PSI_BUCKETS}))
              / ((c_val + {PSI_SMOOTH}) / (SUM(c_val) OVER () + {PSI_SMOOTH} * {PSI_BUCKETS})))
         AS DECIMAL(38,9)), 6) AS DOUBLE) AS psi_contrib
FROM counts
"""


def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate leakage ACROSS the deterministic content-hash
    train/val/test split: a verified >=0.8-Jaccard pair whose members
    land in different splits is evaluation contamination that exact
    n-gram decontamination (contaminated_eval_docs) cannot see — the
    near-dup complement every serious training-data pipeline audits
    before trusting its held-out loss. One row per unordered split
    pair with the leaking-pair count.

    Scale shape: pairs come from the bucketed-LSH -> exact-verify path
    (never all-pairs), the split column is a narrow md5 projection, and
    the two lookups are equi-joins on doc_id followed by one tiny hash
    aggregate (<= 6 split-pair rows). Oracle: the exact all-pairs twin
    on the oracle-mirrored sample joined to the same split CTE.
    """
    from ..operators.dedup import minhash_lsh_neardup_pairs
    from .textq import NEARDUP_SAMPLE_MAX_ID

    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < NEARDUP_SAMPLE_MAX_ID
    )
    pairs = minhash_lsh_neardup_pairs(docs, "doc_id", "text", threshold=0.8)
    splits = _with_split(docs).select("doc_id", "split")
    sa = splits.select(F.col("doc_id").alias("id_a"), F.col("split").alias("_sa"))
    sb = splits.select(F.col("doc_id").alias("id_b"), F.col("split").alias("_sb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.least("_sa", "_sb").alias("split_lo"),
            F.greatest("_sa", "_sb").alias("split_hi"),
        )
        .groupBy("split_lo", "split_hi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .withColumn("crosses_split", F.col("split_lo") != F.col("split_hi"))
    )


def _split_leakage_sql() -> str:
    from .textq import (
        JACCARD_NEARDUP_PAIRS_SQL,
        NEARDUP_SAMPLE_MAX_ID,
        _doc_sampled_sql,
    )

    inner = _doc_sampled_sql(JACCARD_NEARDUP_PAIRS_SQL, NEARDUP_SAMPLE_MAX_ID)
    return f"""
WITH pairs AS (
  {inner}
),
{_SPLIT_CTE}
SELECT split_lo, split_hi, n_pairs, split_lo <> split_hi AS crosses_split
FROM (
  SELECT least(sa.split, sb.split) AS split_lo,
         greatest(sa.split, sb.split) AS split_hi,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM pairs p
  JOIN split_docs sa ON p.doc_a = sa.doc_id
  JOIN split_docs sb ON p.doc_b = sb.doc_id
  GROUP BY 1, 2
)
"""


SPLIT_LEAKAGE_REPORT_SQL = _split_leakage_sql()


WQS_K = 50
_WQS_DENOM = float(16**15 + 1)


def weighted_quality_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis A-ES,
    arXiv:cs/0509026), derandomized: each doc draws a uniform
    u in (0,1) from its md5 and ranks by key = ln(u)/w with weight
    w = n_chars, so longer documents are proportionally more likely to
    survive a corpus downsample — the quality-weighted cousin of the
    per-language hash quotas. Deterministic, so reproducible across
    runs AND engines; the top-K by key IS the weighted sample.

    Scale shape: one narrow projection (md5 + arithmetic in codegen)
    into TakeOrderedAndProject — no shuffle, no window, no driver RNG.
    A-ES keys merge associatively, so the same query distributes to any
    number of partitions unchanged.
    """
    docs = load(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("double")
        + F.lit(1.0)
    ) / F.lit(_WQS_DENOM)
    key = F.log(u) / F.col("n_chars").cast("double")
    return (
        docs.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("weight"),
            r(key, 6).alias("es_key"),
        )
        .orderBy(F.col("es_key").desc(), "doc_id")
        .limit(WQS_K)
    )


WEIGHTED_QUALITY_SAMPLE_SQL = f"""
SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
       CAST(ROUND(CAST(
         ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT)::DOUBLE + 1.0) / {_WQS_DENOM!r})
         / CAST(n_chars AS DOUBLE)
       AS DECIMAL(38,9)), 6) AS DOUBLE) AS es_key
FROM documents
ORDER BY es_key DESC, doc_id
LIMIT {WQS_K}
"""


# --- token-budget corpus selection ---------------------------------------------

TOKEN_BUDGET = 15000


def token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill a fixed token budget with the best documents: order by
    quality (stopword ratio, 4dp) descending and keep docs until the
    budget is first reached, including the crossing doc — the
    "select the top N billion tokens" step of every pretraining run.

    Scale shape: the naive form is a GLOBAL cumulative sum over all
    docs — a single-partition window. Instead: quantize the score to
    its 4dp bucket (exact — the score IS 4dp-rounded), aggregate
    per-bucket token totals (bounded at ≤10⁴+1 buckets by the 4dp
    score DOMAIN, independent of corpus size), walk the bucket running
    sum on the DRIVER (a bounded collect — the same O(partitions)
    discipline as line_numbering's offsets; no window at all, so no
    single-partition exchange even over the bucket rows), keep whole
    buckets that fit, and per-doc refine ONLY the single boundary
    bucket (a keyed window over ~|docs|/buckets rows). Provably equal
    to the global-window rule because the (score desc, doc_id) order
    is (bucket desc, doc_id); the twin runs the naive global form.
    """
    docs = load(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    scored = materialize(
        docs.select(
            "doc_id",
            r(feats["stopword_ratio"], 4).alias("score"),
            feats["n_tokens"].cast("long").alias("n_tokens"),
        ).withColumn(
            "sb", F.round(F.col("score") * 10000).cast("int")
        )
    )
    buckets = scored.groupBy("sb").agg(F.sum("n_tokens").alias("tok")).collect()
    cum = 0
    full_sbs: list[int] = []
    boundary: tuple[int, int] | None = None  # (sb, tokens before it)
    for row in sorted(buckets, key=lambda b: -b["sb"]):
        prev, cum = cum, cum + int(row["tok"])
        if cum <= TOKEN_BUDGET:
            full_sbs.append(row["sb"])
        elif prev < TOKEN_BUDGET:
            boundary = (row["sb"], prev)
    full = scored.filter(
        F.col("sb").isin(full_sbs) if full_sbs else F.lit(False)
    )
    cols = ["doc_id", "score", "n_tokens"]
    if boundary is None:
        return full.select(*cols)
    bsb, prev_tok = boundary
    wd = (
        Window.partitionBy("sb")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    refined = (
        scored.filter(F.col("sb") == bsb)
        .withColumn("dcum", F.sum("n_tokens").over(wd))
        .filter(F.lit(prev_tok) + F.col("dcum") - F.col("n_tokens") < TOKEN_BUDGET)
    )
    return full.select(*cols).unionByName(refined.select(*cols))


TOKEN_BUDGET_SELECTION_SQL = f"""
WITH scored AS (
  SELECT doc_id,
         CAST(ROUND(CAST(CASE WHEN (CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(lower(text)), '\\s+')) END) > 0
              THEN len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                   t -> t IN ({_STOPLIST_SQL})))::DOUBLE
                   / len(string_split_regex(trim(lower(text)), '\\s+'))
              ELSE 0.0 END AS DECIMAL(38,9)), 4) AS DOUBLE) AS score,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(lower(text)), '\\s+'))
         END AS BIGINT) AS n_tokens
  FROM documents
),
o AS (
  SELECT doc_id, score, n_tokens,
         SUM(n_tokens) OVER (ORDER BY score DESC, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM scored
)
SELECT doc_id, score, n_tokens
FROM o WHERE cum - n_tokens < {TOKEN_BUDGET}
"""


QUERIES: list[Query] = [
    Query("lang_quota_sample", lang_quota_sample, LANG_QUOTA_SAMPLE_SQL,
          ("text_analysis", "exact_dedup"),
          "deterministic per-language hash-quota downsampling"),
    Query("contaminated_eval_docs", contaminated_eval_docs,
          CONTAMINATED_EVAL_DOCS_SQL,
          ("text_analysis", "near_dedup"),
          "train/eval word-8-gram contamination report"),
    Query("doc_repetition_signals", doc_repetition_signals,
          DOC_REPETITION_SIGNALS_SQL,
          ("text_analysis",),
          "Gopher-style repetition & token-distribution signals"),
    Query("chunk_pack_spans", chunk_pack_spans, CHUNK_PACK_SPANS_SQL,
          ("text_analysis",),
          "concat-and-chunk sequence packing spans (sharded)"),
    Query("pii_redacted_docs", pii_redacted_docs, PII_REDACTED_DOCS_SQL,
          ("text_analysis",),
          "PII detection + redaction (emails/IPv4/phones) with a "
          "planted-PII harness; oracle pins counts and redacted bytes"),
    Query("ffd_bin_packing", ffd_bin_packing, FFD_BIN_PACKING_SQL,
          ("text_analysis",),
          "greedy FFD token bin packing per shard (oracle: recursive "
          "CTE replays the placement sequence with list-state)"),
    Query("temperature_mix_sample", temperature_mix_sample,
          TEMPERATURE_MIX_SAMPLE_SQL,
          ("text_analysis",),
          "temperature-scaled (alpha=0.7) multilingual rebalancing via "
          "salted-hash sampling"),
    Query("curation_funnel", curation_funnel, CURATION_FUNNEL_SQL,
          ("text_analysis", "exact_dedup", "near_dedup"),
          "end-to-end corpus pipeline: quota -> quality -> dedup -> "
          "split -> decontaminate, per-stage survivor counts"),
    Query("doc_perplexity", doc_perplexity, DOC_PERPLEXITY_SQL,
          ("text_analysis",),
          "CCNet-style bigram-LM perplexity quality scoring (LM "
          "trained and applied as DataFrame aggs/joins)"),
    Query("ccnet_perplexity_buckets", ccnet_perplexity_buckets,
          CCNET_PERPLEXITY_BUCKETS_SQL,
          ("text_analysis",),
          "CCNet head/middle/tail selection: per-language perplexity "
          "terciles with population + ppl range"),
    Query("dup_span_stats", dup_span_stats, DUP_SPAN_STATS_SQL,
          ("text_analysis", "near_dedup"),
          "Lee-et-al exact-substring duplicated-span coverage per doc"),
    Query("span_deduped_docs", span_deduped_docs, SPAN_DEDUPED_DOCS_SQL,
          ("text_analysis", "near_dedup"),
          "Lee-et-al exact-substring dedup transform: duplicated spans "
          "removed (min-doc_id keeper), rebuilt text fingerprinted"),
    Query("dsir_sampled_docs", dsir_sampled_docs, DSIR_SAMPLED_DOCS_SQL,
          ("text_analysis",),
          "DSIR hashed-unigram importance weights + deterministic "
          "Gumbel top-k sample (arXiv:2302.03169)"),
    Query("token_drift_psi", token_drift_psi, TOKEN_DRIFT_PSI_SQL,
          ("text_analysis",),
          "population-stability-index drift report over hashed-token "
          "buckets between the train and val slices"),
    Query("split_leakage_report", split_leakage_report,
          SPLIT_LEAKAGE_REPORT_SQL,
          ("near_dedup", "text_analysis"),
          "verified near-dup pairs crossing the hash train/val/test "
          "split — the eval-contamination audit n-gram decontamination "
          "misses"),
    Query("length_grouped_batches", length_grouped_batches,
          LENGTH_GROUPED_BATCHES_SQL,
          ("text_analysis",),
          "length-grouped (longest-first) training batches with "
          "per-batch padding-waste metrics"),
    Query("weighted_quality_sample", weighted_quality_sample,
          WEIGHTED_QUALITY_SAMPLE_SQL,
          ("text_analysis",),
          "derandomized Efraimidis-Spirakis weighted sampling without "
          "replacement (quality-proportional corpus downsample)"),
    Query("token_budget_selection", token_budget_selection,
          TOKEN_BUDGET_SELECTION_SQL,
          ("text_analysis",),
          "fill a fixed token budget with the best docs: bucket-level "
          "running sum + boundary-bucket refinement instead of a "
          "global cumsum window"),
]
