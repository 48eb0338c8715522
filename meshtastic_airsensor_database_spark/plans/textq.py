"""Text-analysis & document-dedup queries over ``documents``
(SURVEY.md §2.11 text_analysis / exact_dedup / near_dedup).

Tokenization convention shared with the DuckDB oracle:
``split(trim(lower(text)), '\\s+')`` — identical regex semantics in
both engines. All heuristics are deterministic built-ins (no UDFs), so
they hold their shape at 100 TB (embarrassingly parallel scans; the
near-dup pair join is the only shuffle and has an LSH-banded scale
path in operators/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    STOPWORDS,
    doc_fingerprint_md5,
    lang_id_pred,
    normalize_text,
    quality_features,
    token_count,
    tokens,
    word_shingles,
)
from ..io_utils import fan_out, load
from ..operators.setjoin import (
    hashed_tf_cosine_pairs,
    prefix_filtered_jaccard_pairs,
)
from ..operators.textops import (
    bounded_pair_and_member_counts,
    build_vocab,
    encode_docs,
    novelty_counts,
    source_shingle_sets,
)
from .base import Query, r, sql_query


# --- exact dedup (SURVEY §2.11 exact_dedup) -----------------------------------

EXACT_DEDUP_DOCS_SQL = """
SELECT md5(text) AS fingerprint,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) - 1 AS n_duplicates
FROM documents GROUP BY md5(text)
"""


def normalized_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-insensitive exact dedup: group on the md5 of the
    canonical text form (lowercased, ASCII punctuation stripped,
    whitespace collapsed) — the cheap middle tier between byte-exact
    dedup and MinHash, catching formatting-only duplicates in ONE
    hash-agg shuffle that still carries only 16-byte fingerprints.
    ``n_byte_variants`` counts distinct raw forms merged per group
    (> 1 = caught something byte-exact dedup missed)."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            doc_fingerprint_md5(normalize_text(F.col("text"))).alias(
                "norm_fingerprint"
            ),
            doc_fingerprint_md5(F.col("text")).alias("raw_fp"),
            "doc_id",
        )
        .groupBy("norm_fingerprint")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            (F.count("*") - 1).alias("n_duplicates"),
            F.countDistinct("raw_fp").alias("n_byte_variants"),
        )
    )


NORMALIZED_DEDUP_DOCS_SQL = r"""
WITH norm AS (
  SELECT doc_id, md5(text) AS raw_fp,
         md5(trim(regexp_replace(regexp_replace(lower(text),
             '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g'))) AS norm_fingerprint
  FROM documents
)
SELECT norm_fingerprint,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) - 1 AS n_duplicates,
       COUNT(DISTINCT raw_fp) AS n_byte_variants
FROM norm GROUP BY norm_fingerprint
"""


# --- token counting (SURVEY §2.11 text_analysis) ------------------------------

def token_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.withColumn("n_tokens", token_count(F.col("text")))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            r(F.avg("n_tokens"), 2).alias("avg_tokens"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )


TOKEN_STATS_BY_LANG_SQL = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(ROUND(CAST(AVG(n_tokens) AS DECIMAL(38,9)), 2) AS DOUBLE) AS avg_tokens,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM (SELECT lang,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(lower(text)), '\\s+')) END AS n_tokens
      FROM documents)
GROUP BY lang
"""


def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish (GPT-2 pretokenizer regex) token counts per lang — the
    LLM-token-budget proxy next to whitespace token_stats_by_lang."""
    from ..functions.text import bpe_token_count

    docs = load(spark, sf_dir, "documents")
    return (
        docs.withColumn("n_bpe", bpe_token_count(F.col("text")))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            r(F.avg("n_bpe"), 2).alias("avg_bpe_tokens"),
            F.sum("n_bpe").cast("long").alias("total_bpe_tokens"),
        )
    )


def _bpe_pattern_sql() -> str:
    from ..functions.text import BPE_PRETOKEN_RE

    return BPE_PRETOKEN_RE.replace("'", "''")


BPE_TOKEN_STATS_SQL = f"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(ROUND(CAST(AVG(n_bpe) AS DECIMAL(38,9)), 2) AS DOUBLE) AS avg_bpe_tokens,
       CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens
FROM (SELECT lang,
             len(list_filter(regexp_extract_all(lower(text), '{_bpe_pattern_sql()}'),
                             t -> trim(t) <> '')) AS n_bpe
      FROM documents)
GROUP BY lang
"""


# --- quality scoring (SURVEY §2.11 text_analysis) -----------------------------

def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features + a pass/fail gate; aggregated per
    source so the result is compact at any scale."""
    docs = load(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    scored = docs.select(
        "doc_id",
        "source",
        feats["n_tokens"].alias("n_tokens"),
        r(feats["punct_ratio"], 4).alias("punct_ratio"),
        r(feats["stopword_ratio"], 4).alias("stopword_ratio"),
    )
    passed = (
        (F.col("n_tokens") >= 10)
        & (F.col("punct_ratio") < 0.1)
        & (F.col("stopword_ratio") >= 0.05)
    )
    return scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(passed.cast("long")).cast("long").alias("n_passed"),
        r(F.avg("stopword_ratio"), 4).alias("avg_stopword_ratio"),
        r(F.avg("punct_ratio"), 4).alias("avg_punct_ratio"),
    )


def corpus_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-language corpus data card: doc/source counts, token and
    character totals, median document length and corpus share — the
    summary table every training-data release publishes (HF dataset
    cards, Dolma/RedPajama reports).

    Scale shape: ONE scan computes the per-doc token count and feeds a
    |lang|-wide hash agg (map-side partials; the exact median is the
    declared cost at |lang| groups — each group's sort is keyed, and
    the sketch relaxation for high-cardinality grouping keys is
    `approx_value_percentiles`); the corpus total is a full-frame
    window sum over the |lang| AGGREGATED rows (no second scan, no
    broadcast branch).
    """
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        "source",
        "n_chars",
        token_count(F.col("text")).alias("n_tokens"),
    )
    g = base.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        r(F.median("n_chars"), 2).alias("p50_chars"),
        r(F.avg("n_tokens"), 4).alias("avg_tokens"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return g.select(
        "lang",
        "n_docs",
        "n_sources",
        "total_tokens",
        "total_chars",
        "p50_chars",
        "avg_tokens",
        r(
            F.col("n_docs").cast("double")
            * 100.0
            / F.sum("n_docs").over(w_all),
            4,
        ).alias("pct_of_corpus"),
    )


CORPUS_DATA_CARD_SQL = """
WITH base AS (
  SELECT lang, source, n_chars,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(lower(text)), '\\s+'))
         END AS n_tokens
  FROM documents
),
g AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(ROUND(CAST(quantile_cont(n_chars, 0.5)
              AS DECIMAL(38,9)), 2) AS DOUBLE) AS p50_chars,
         CAST(ROUND(CAST(AVG(n_tokens) AS DECIMAL(38,9)), 4) AS DOUBLE)
           AS avg_tokens
  FROM base GROUP BY 1
)
SELECT lang, n_docs, n_sources, total_tokens, total_chars, p50_chars,
       avg_tokens,
       CAST(ROUND(CAST(CAST(n_docs AS DOUBLE) * 100.0
            / SUM(n_docs) OVER ()
            AS DECIMAL(38,9)), 4) AS DOUBLE) AS pct_of_corpus
FROM g
"""


_STOPLIST_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

QUALITY_SCORES_SQL = f"""
WITH feats AS (
  SELECT doc_id, source,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(lower(text)), '\\s+')) END AS n_tokens,
         CAST(ROUND(CAST(CASE WHEN length(text) > 0
              THEN (length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g')))::DOUBLE
                   / length(text) ELSE 0.0 END AS DECIMAL(38,9)), 4) AS DOUBLE) AS punct_ratio,
         CAST(ROUND(CAST(CASE WHEN (CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(lower(text)), '\\s+')) END) > 0
              THEN len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                   t -> t IN ({_STOPLIST_SQL})))::DOUBLE
                   / len(string_split_regex(trim(lower(text)), '\\s+'))
              ELSE 0.0 END AS DECIMAL(38,9)), 4) AS DOUBLE) AS stopword_ratio
  FROM documents
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN n_tokens >= 10 AND punct_ratio < 0.1
                      AND stopword_ratio >= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_passed,
       CAST(ROUND(CAST(AVG(stopword_ratio) AS DECIMAL(38,9)), 4) AS DOUBLE) AS avg_stopword_ratio,
       CAST(ROUND(CAST(AVG(punct_ratio) AS DECIMAL(38,9)), 4) AS DOUBLE) AS avg_punct_ratio
FROM feats GROUP BY source
"""


# --- language ID (SURVEY §2.11 text_analysis) ---------------------------------

def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic marker-word language ID vs the labeled lang column
    — a confusion-matrix query (counts per (lang, pred_lang))."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.withColumn("pred_lang", lang_id_pred(F.col("text")))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )


def _lang_marker_case_sql() -> str:
    from ..functions.text import LANG_MARKERS

    clauses = []
    for lang, markers in LANG_MARKERS:
        arr = ", ".join(f"'{m}'" for m in markers)
        clauses.append(
            f"WHEN len(list_intersect(string_split_regex(trim(lower(text)), '\\s+'),"
            f" [{arr}])) > 0 THEN '{lang}'"
        )
    return "CASE " + " ".join(clauses) + " ELSE 'unk' END"


LANG_ID_CONFUSION_SQL = f"""
SELECT lang, {_lang_marker_case_sql()} AS pred_lang, COUNT(*) AS n
FROM documents GROUP BY 1, 2
"""


# --- fingerprints (SURVEY §2.11 text_analysis) --------------------------------

DOC_FINGERPRINTS_SQL = "SELECT doc_id, md5(text) AS fingerprint FROM documents"


# --- rolling-hash fingerprints (rows-only) -------------------------------------

def rolling_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive polynomial rolling hash per document.
    Complements the md5 exact fingerprint with shift-robust shape
    hashing. The token basis is the cross-engine md5→BIGINT hash, so
    the DuckDB twin folds the identical per-token hashes with
    ``list_reduce`` — this was the registry's one ``no_oracle`` row
    through r3 (xxhash64 basis); now hash-checked exactly."""
    from ..functions.text import doc_fingerprint_rolling

    docs = fan_out(load(spark, sf_dir, "documents"))
    return docs.select("doc_id", doc_fingerprint_rolling(F.col("text")).alias("rolling_fp"))


ROLLING_FINGERPRINTS_SQL = """
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split_regex(trim(lower(text)), '\\s+'),
             t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)
                  % 2147483647)),
         (a, b) -> (a * 31 + b) % 2147483647) AS rolling_fp
FROM documents
"""


# --- n-gram Jaccard near-dup pairs (SURVEY §2.11 near_dedup) -------------------

JACCARD_THRESHOLD = 0.8
SHINGLE_N = 3

# Oracle-run budget guard: the driver executes every declared query AND
# its DuckDB twin side-by-side at sf0.01 under a global time budget;
# the unsampled O(n^2) all-pairs Jaccard over the 500-doc corpus costs
# ~30-40 s PER ENGINE and starved the round-1 run partway through. The
# REGISTERED queries therefore take a deterministic, oracle-MIRRORED
# sample — ``doc_id < N`` applied identically in the Spark builder and
# the SQL twin (any asymmetry would fail the hash compare) — which
# still covers several planted near-dup pairs. Tests keep using the
# unsampled formulations (``max_id=None``) as LSH ground truth; the
# actual 100 TB path is the LSH family, never these.
NEARDUP_SAMPLE_MAX_ID = 250
CHAR_NEARDUP_SAMPLE_MAX_ID = 200


def _doc_sampled_sql(sql: str, max_id: int) -> str:
    """Mirror the builder's ``doc_id < max_id`` sample into a SQL twin
    (the single FROM documents lives in the shingle CTE)."""
    assert sql.count("FROM documents") == 1
    return sql.replace("FROM documents", f"FROM documents WHERE doc_id < {max_id}")


def jaccard_neardup_pairs(
    spark: SparkSession, sf_dir: str, max_id: int | None = None
) -> DataFrame:
    """All-pairs word-3-gram Jaccard >= 0.8 (the planted near-dups).

    This is the EXACT oracle-checkable formulation (O(n^2) self-join —
    fine at oracle scale). The 100 TB path is operators/dedup.py's
    MinHash-LSH banding, which prunes the pair space to colliding
    buckets; its candidate set is verified against this exact query in
    tests/test_dedup.py."""
    docs = load(spark, sf_dir, "documents")
    if max_id is not None:
        docs = docs.filter(F.col("doc_id") < max_id)
    sh = fan_out(docs).select("doc_id", word_shingles(F.col("text"), SHINGLE_N).alias("sh"))
    return _jaccard_pairs(sh, JACCARD_THRESHOLD)


def jaccard_neardup_pairs_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered (driver-facing) variant: oracle-mirrored sample."""
    return jaccard_neardup_pairs(spark, sf_dir, max_id=NEARDUP_SAMPLE_MAX_ID)


def _jaccard_pairs(sh: DataFrame, threshold: float) -> DataFrame:
    """Exact all-pairs Jaccard over (doc_id, sh) with a SOUND size
    prune in the join condition: J(A,B) >= t implies
    min(|A|,|B|)/max(|A|,|B|) >= t (|A∩B| <= min, |A∪B| >= max), so
    dropping size-mismatched pairs before the expensive array
    intersection loses nothing. The oracle SQL stays prune-free — any
    result divergence would fail the hash compare."""
    sized = sh.select("doc_id", "sh", F.size("sh").alias("sz"))
    a = sized.alias("a")
    b = sized.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    jac = inter.cast("double") / union
    size_ok = (
        F.least(F.col("a.sz"), F.col("b.sz")).cast("double")
        / F.greatest(F.col("a.sz"), F.col("b.sz"))
        >= threshold
    )
    return (
        a.join(b, (F.col("a.doc_id") < F.col("b.doc_id")) & size_ok)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            r(jac, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


JACCARD_NEARDUP_PAIRS_SQL = f"""
WITH s AS (
  SELECT doc_id,
         CASE WHEN len(string_split_regex(trim(lower(text)), '\\s+')) >= {SHINGLE_N}
              THEN list_distinct(list_transform(
                     range(1, len(string_split_regex(trim(lower(text)), '\\s+')) - {SHINGLE_N - 2}),
                     i -> array_to_string(string_split_regex(trim(lower(text)), '\\s+')[i:i+{SHINGLE_N - 1}], ' ')))
              ELSE [array_to_string(string_split_regex(trim(lower(text)), '\\s+'), ' ')]
         END AS sh
  FROM documents
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(ROUND(CAST(len(list_intersect(a.sh, b.sh))::DOUBLE
               / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS DECIMAL(38,9)), 4) AS DOUBLE) AS jaccard
  FROM s a JOIN s b ON a.doc_id < b.doc_id
) WHERE jaccard >= {JACCARD_THRESHOLD}
"""


CHAR_SHINGLE_N = 5
CHAR_JACCARD_THRESHOLD = 0.8


def char_jaccard_neardup_pairs(
    spark: SparkSession, sf_dir: str, max_id: int | None = None
) -> DataFrame:
    """Character-5-gram Jaccard near-dup pairs — the word-boundary-free
    complement of jaccard_neardup_pairs (robust to hyphenation/spacing
    noise and unsegmented scripts). Exact all-pairs formulation at
    oracle scale; the LSH banding in operators/dedup.py applies
    unchanged to char shingles for the 100 TB path."""
    from ..functions.text import char_shingles

    docs = load(spark, sf_dir, "documents")
    if max_id is not None:
        docs = docs.filter(F.col("doc_id") < max_id)
    sh = fan_out(docs).select(
        "doc_id", char_shingles(F.col("text"), CHAR_SHINGLE_N).alias("sh")
    )
    return _jaccard_pairs(sh, CHAR_JACCARD_THRESHOLD)


def char_jaccard_neardup_pairs_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered variant: oracle-mirrored sample (char shingles cost
    ~6x the word variant per pair, hence the tighter cap)."""
    return char_jaccard_neardup_pairs(spark, sf_dir, max_id=CHAR_NEARDUP_SAMPLE_MAX_ID)


CHAR_JACCARD_NEARDUP_PAIRS_SQL = f"""
WITH s AS (
  SELECT doc_id,
         CASE WHEN len(lower(text)) >= {CHAR_SHINGLE_N}
              THEN list_distinct(list_transform(
                     range(1, len(lower(text)) - {CHAR_SHINGLE_N - 2}),
                     i -> substr(lower(text), i, {CHAR_SHINGLE_N})))
              ELSE [lower(text)]
         END AS sh
  FROM documents
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(ROUND(CAST(len(list_intersect(a.sh, b.sh))::DOUBLE
               / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS DECIMAL(38,9)), 4) AS DOUBLE) AS jaccard
  FROM s a JOIN s b ON a.doc_id < b.doc_id
)
WHERE jaccard >= {CHAR_JACCARD_THRESHOLD}
"""


# --- deterministic train/val/test split (SURVEY §2.11 text_analysis) ----------

SPLIT_TRAIN_PCT = 80
SPLIT_VAL_PCT = 10  # remainder is test


def doc_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash train/val/test split — the
    reproducible alternative to random sampling for training-data
    curation: the same document lands in the same split on any engine,
    any run, any cluster size (no seed coordination, no shuffling).

    Bucket = first 8 hex chars of md5(text) as an int mod 100 —
    content-addressed, so exact duplicates land in the SAME split
    (never train/test leakage from dupes). Embarrassingly parallel:
    one narrow pass, no shuffle at any scale.
    """
    docs = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10).cast("long")
        % 100
    )
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, "val")
        .otherwise("test")
        .alias("split"),
    )


DOC_SPLIT_ASSIGNMENT_SQL = f"""
SELECT doc_id, bucket,
       CASE WHEN bucket < {SPLIT_TRAIN_PCT} THEN 'train'
            WHEN bucket < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id,
         CAST(CAST(concat('0x', substr(md5(text), 1, 8)) AS UBIGINT) % 100
              AS BIGINT) AS bucket
  FROM documents
)
"""


# --- per-language vocabulary: document-frequency top-k ------------------------

TERM_TOPK = 5


def term_df_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``TERM_TOPK`` non-stopword terms per language by DOCUMENT
    frequency (each doc counts a term once) — the vocabulary-building /
    corpus-drift primitive of an LLM data pipeline.

    Scale shape: explode(array_distinct(tokens)) -> two-level hash agg
    with map-side partials; the window ranks only the (lang, term)
    aggregate (vocabulary-sized, not corpus-sized)."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    tokens = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    term = (
        docs.select("lang", F.explode(F.array_distinct(tokens)).alias("term"))
        .filter((F.col("term") != "") & ~F.col("term").isin(*STOPWORDS))
        .groupBy("lang", "term")
        .agg(F.count("*").alias("doc_freq"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("doc_freq").desc(), F.col("term")
    )
    return (
        term.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TERM_TOPK)
        .select("lang", "term", "doc_freq", "rank")
    )


TERM_DF_TOPK_SQL = f"""
WITH terms AS (
  SELECT lang, term, COUNT(*) AS doc_freq FROM (
    SELECT lang, unnest(list_distinct(
             string_split_regex(trim(lower(text)), '\\s+'))) AS term
    FROM documents
  ) WHERE term <> '' AND term NOT IN ({_STOPLIST_SQL})
  GROUP BY lang, term
)
SELECT lang, term, doc_freq, CAST(rank AS INTEGER) AS rank FROM (
  SELECT lang, term, doc_freq,
         row_number() OVER (PARTITION BY lang
                            ORDER BY doc_freq DESC, term) AS rank
  FROM terms
) WHERE rank <= {TERM_TOPK}
"""


# --- PII scan / redaction -----------------------------------------------------
#
# The synthetic corpus carries no natural PII, so the query injects a
# deterministic doc_id-derived email / IPv4 / phone into every third
# document IDENTICALLY in the Spark builder and the SQL twin — the
# regex extraction and masking are then genuinely exercised (and
# parity-checked) on text that contains matches, absences, and
# pattern-adjacent decimals from the original body.


def pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII counts + md5 fingerprint of the fully redacted
    body. One narrow JVM-side pass (regexp_extract_all / chained
    regexp_replace in whole-stage codegen): embarrassingly parallel at
    any scale, no shuffle."""
    from ..functions.text import (
        PII_EMAIL_RE,
        PII_IPV4_RE,
        PII_PHONE_RE,
        pii_count,
        redact_pii,
    )

    docs = load(spark, sf_dir, "documents")
    injected = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.org from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 call 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-0199"),
        ),
    ).otherwise(F.col("text"))
    t = docs.select("doc_id", injected.alias("t"))
    return t.select(
        "doc_id",
        pii_count("t", PII_EMAIL_RE).cast("long").alias("n_emails"),
        pii_count("t", PII_IPV4_RE).cast("long").alias("n_ips"),
        pii_count("t", PII_PHONE_RE).cast("long").alias("n_phones"),
        F.md5(redact_pii("t")).alias("redacted_fp"),
    )


def _pii_scan_sql() -> str:
    from ..functions.text import PII_EMAIL_RE, PII_IPV4_RE, PII_PHONE_RE

    return f"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.org from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                   || '.7 call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                   || '-0199'
              ELSE text END AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{PII_IPV4_RE}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(t, '{PII_PHONE_RE}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
             '{PII_EMAIL_RE}', '[EMAIL]', 'g'),
             '{PII_IPV4_RE}', '[IP]', 'g'),
             '{PII_PHONE_RE}', '[PHONE]', 'g')) AS redacted_fp
FROM t
"""


PII_SCAN_SQL = _pii_scan_sql()


# --- BPE merge-pair counting (tokenizer training primitive) -------------------

BPE_MERGE_TOPK = 20


def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One round of BPE training: the corpus-wide frequency of every
    adjacent character pair, weighted by word occurrence — the argmax
    is the next merge a byte-pair tokenizer would learn (Sennrich et
    al., ACL'16). Top ``BPE_MERGE_TOPK`` by (count, pair).

    Scale shape: word counts first (hash agg — the corpus collapses to
    its vocabulary, typically 10^5-10^6 rows regardless of corpus
    size), THEN the per-word char-pair explode runs over distinct words
    only — the expensive explode is O(vocab), not O(corpus)."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    words = (
        docs.filter(F.trim("text") != "")
        .select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
        .filter(F.length("w") >= 2)
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "wc",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(BPE_MERGE_TOPK)
    )


BPE_MERGE_CANDIDATES_SQL = f"""
WITH words AS (
  SELECT w, COUNT(*) AS wc FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
    FROM documents WHERE trim(text) <> ''
  ) GROUP BY w HAVING len(w) >= 2
),
pairs AS (
  SELECT unnest(list_transform(range(1, len(w)), i -> substr(w, i, 2))) AS pair, wc
  FROM words
)
SELECT pair, CAST(SUM(wc) AS BIGINT) AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair LIMIT {BPE_MERGE_TOPK}
"""


# --- BM25 ranking (Robertson/Sparck Jones; the lexical-IR standard) -----------

BM25_TERMS = ("spark", "hash", "merge")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 25


def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking for a fixed term query — the lexical IR
    baseline the RRF fusion's TF arm approximates. Full formula with
    document-length normalization:
    ``idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))``,
    ``idf = ln((N - df + 0.5)/(df + 0.5) + 1)``.

    Scale shape: doc lengths and per-(doc,term) tf come from one
    tokenize pass (explode filtered to the query terms only — the
    exchange carries query-term hits, not the corpus vocabulary); df
    is a |terms|-row agg broadcast back; N/avgdl is a single-row agg
    broadcast (the same single-row crossJoin pattern as the ANN
    queries); the final ranking is TakeOrderedAndProject.
    """
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    base = docs.select(
        "doc_id", toks.alias("toks")
    ).select("doc_id", F.size("toks").alias("dl"), "toks")
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    terms = F.array(*[F.lit(t) for t in BM25_TERMS])
    tf = (
        base.select(
            "doc_id",
            "dl",
            F.explode(
                F.filter("toks", lambda t: F.array_contains(terms, t))
            ).alias("term"),
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(dfreq), "term").crossJoin(
        F.broadcast(stats)
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    norm = F.col("tf") + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    contrib = idf * F.col("tf") * (BM25_K1 + 1.0) / norm
    out = scored.groupBy("doc_id").agg(
        r(F.sum(contrib), 4).alias("bm25"),
        F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
    )
    return out.orderBy(F.col("bm25").desc(), "doc_id").limit(BM25_TOPK)


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)

BM25_TOPK_DOCS_SQL = f"""
WITH base AS (
  SELECT doc_id,
         string_split_regex(trim(lower(text)), '\\s+') AS toks
  FROM documents
),
lens AS (SELECT doc_id, len(toks) AS dl, toks FROM base),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM lens),
tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM lens)
  WHERE term IN ({_BM25_TERMS_SQL})
  GROUP BY 1, 2, 3
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT t.doc_id,
         ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * t.tf * ({BM25_K1} + 1.0)
           / (t.tf + {BM25_K1} * (1.0 - {BM25_B}
              + {BM25_B} * t.dl / s.avgdl)) AS contrib
  FROM tf t JOIN dfreq d USING (term) CROSS JOIN stats s
)
SELECT doc_id,
       CAST(ROUND(CAST(SUM(contrib) AS DECIMAL(38,9)), 4) AS DOUBLE) AS bm25,
       CAST(COUNT(*) AS BIGINT) AS n_terms_matched
FROM scored
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT {BM25_TOPK}
"""


# --- iterative BPE training (the full loop; one round = bpe_merge_candidates) -

BPE_TRAIN_ROUNDS = 8
BPE_MIN_PAIR_COUNT = 2  # train_bpe_merges' default early-stop threshold


def bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ordered merge list a BPE tokenizer learns on the corpus:
    ``BPE_TRAIN_ROUNDS`` rounds of count-argmax-merge over the word
    vocabulary (operators/bpetrain.py). Iterative with a 1-row driver
    collect per round — but DETERMINISTIC (count desc, left, right
    tie-break), so the twin unrolls the loop as chained CTEs, one
    (pair-count, argmax, greedy-fold-merge) block per round — the same
    unroll discipline that twinned Lloyd's k-means and PQ. Serial
    pure-Python trainer parity additionally pinned merge-for-merge in
    tests/test_bpetrain.py.
    """
    from ..operators.bpetrain import bpe_merges_df

    docs = load(spark, sf_dir, "documents")
    return bpe_merges_df(docs, "text", n_merges=BPE_TRAIN_ROUNDS)


def bpe_encode_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train BPE on the corpus, encode its vocabulary with the learned
    merges, and report corpus-weighted compression (symbols per char) —
    the end-to-end tokenizer lifecycle (train -> encode -> measure).
    The twin reuses the unrolled training CTEs: the vocabulary after
    round N of progressive training IS the encode of the initial
    vocabulary under the learned merge list (both apply merges 1..N in
    rank order), so the final-round frame aggregates directly.
    """
    from ..operators.bpetrain import bpe_encode_stats

    docs = load(spark, sf_dir, "documents")
    return bpe_encode_stats(docs, "text", n_merges=BPE_TRAIN_ROUNDS)


def _bpe_twin_sql(final: str) -> str:
    """Unrolled-loop DuckDB twin of operators/bpetrain.py: round k =
    adjacent-pair count over v{k-1} (GROUP BY + wc-weighted SUM), the
    deterministic argmax (n DESC, a, b — exactly train_bpe_merges' tie
    break, with the min-pair-count early stop: an empty m{k} leaves the
    vocab unchanged via LEFT JOIN, so later rounds stay empty too, just
    like the loop's break), then the greedy left-to-right fold applied
    to every word: list_reduce over single-symbol lists with an
    explicit []-init (list_prepend), merging when the accumulator's
    tail equals `left` and the incoming symbol equals `right` — the
    bit-identical mirror of apply_merge's F.aggregate lambda.
    ``final`` is a format string receiving {merges} (the 8-round UNION
    ALL of argmax rows) and {vfinal} (the fully-merged vocab CTE)."""
    parts = [
        """
words AS (
  SELECT tok AS w FROM (
    SELECT string_split_regex(trim(lower(COALESCE(text, ''))), '\\s+') AS ts
    FROM documents
  ), UNNEST(ts) AS u(tok)
  WHERE length(tok) >= 2
),
v0 AS (
  SELECT list_transform(range(1, length(w) + 1), i -> w[i:i]) AS syms,
         CAST(COUNT(*) AS BIGINT) AS wc
  FROM words GROUP BY w
)"""
    ]
    merge_rows = []
    prev = "v0"
    for k in range(1, BPE_TRAIN_ROUNDS + 1):
        parts.append(
            f"""
p{k} AS (
  SELECT syms[i] AS a, syms[i + 1] AS b, CAST(SUM(wc) AS BIGINT) AS n
  FROM {prev}, UNNEST(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
m{k} AS (
  SELECT a, b, n FROM p{k} WHERE n >= {BPE_MIN_PAIR_COUNT}
  ORDER BY n DESC, a, b LIMIT 1
),
v{k} AS (
  SELECT CASE WHEN m.a IS NULL THEN v.syms ELSE
    list_reduce(
      list_prepend(CAST([] AS VARCHAR[]), list_transform(v.syms, s -> [s])),
      (acc, x) -> CASE WHEN len(acc) > 0 AND acc[len(acc)] = m.a AND x[1] = m.b
                  THEN list_append(list_slice(acc, 1, len(acc) - 1), m.a || m.b)
                  ELSE list_append(acc, x[1]) END
    ) END AS syms, v.wc
  FROM {prev} v LEFT JOIN m{k} m ON TRUE
)"""
        )
        merge_rows.append(
            f'SELECT CAST({k} AS BIGINT) AS "rank", a AS "left",'
            f' b AS "right", n FROM m{k}'
        )
        prev = f"v{k}"
    return "WITH " + ",".join(parts) + final.format(
        merges="\nUNION ALL\n".join(merge_rows), vfinal=prev
    )


BPE_LEARNED_MERGES_SQL = _bpe_twin_sql("\n{merges}")

BPE_ENCODE_COMPRESSION_SQL = _bpe_twin_sql(
    """
SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(wc) AS BIGINT) AS n_occurrences,
       CAST(SUM(list_sum(list_transform(syms, s -> length(s))) * wc) AS BIGINT)
         AS chars_weighted,
       CAST(SUM(len(syms) * wc) AS BIGINT) AS symbols_weighted,
       CAST(ROUND(CAST(CAST(SUM(len(syms) * wc) AS DOUBLE)
         / CAST(SUM(list_sum(list_transform(syms, s -> length(s))) * wc) AS DOUBLE)
         AS DECIMAL(38,9)), 4) AS DOUBLE) AS compression_ratio
FROM {vfinal}"""
)


# --- RAG chunking: overlapping fixed-size token windows -----------------------

CHUNK_SIZE = 64
CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks


def rag_chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token chunks per document — the retrieval-corpus
    chunker every RAG pipeline runs before embedding: fixed
    ``CHUNK_SIZE``-token windows advancing by ``CHUNK_STRIDE`` (overlap
    preserves context across boundaries), final partial chunk kept.

    Pure built-ins: tokenize once, ``sequence`` the chunk starts,
    ``posexplode``, slice the token array — a narrow per-row explode
    with bounded fan-out (n_tokens/stride rows per doc), no shuffle,
    no Python. Case is preserved (chunk text feeds an embedder;
    lowercasing is the embedder's call, unlike the dedup shingles)."""
    docs = load(spark, sf_dir, "documents").filter(F.trim("text") != "")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = docs.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    chunked = base.select(
        "doc_id",
        "n",
        "toks",
        F.posexplode(F.sequence(F.lit(0), F.col("n") - 1, F.lit(CHUNK_STRIDE))).alias(
            "chunk_idx", "start_tok"
        ),
    )
    end_tok = F.least(F.col("start_tok") + CHUNK_SIZE, F.col("n"))
    return chunked.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start_tok").cast("long").alias("start_tok"),
        end_tok.cast("long").alias("end_tok"),
        (end_tok - F.col("start_tok")).cast("long").alias("n_chunk_tokens"),
        F.array_join(
            F.slice(F.col("toks"), F.col("start_tok") + 1, end_tok - F.col("start_tok")),
            " ",
        ).alias("chunk_text"),
    )


RAG_CHUNK_SPANS_SQL = f"""
WITH base AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents WHERE trim(text) <> ''
),
starts AS (
  SELECT doc_id, toks, len(toks) AS n,
         unnest(range(0, len(toks), {CHUNK_STRIDE})) AS start_tok
  FROM base
)
SELECT doc_id,
       CAST(start_tok // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(start_tok AS BIGINT) AS start_tok,
       CAST(LEAST(start_tok + {CHUNK_SIZE}, n) AS BIGINT) AS end_tok,
       CAST(LEAST(start_tok + {CHUNK_SIZE}, n) - start_tok AS BIGINT) AS n_chunk_tokens,
       array_to_string(toks[start_tok + 1 : LEAST(start_tok + {CHUNK_SIZE}, n)], ' ')
         AS chunk_text
FROM starts
"""


# --- vocabulary encoding (tokens -> ids, OOV to reserved id) ------------------

VOCAB_SIZE = 20
ENCODE_HEAD = 12

_TOKS = "string_split_regex(trim(lower(text)), '\\s+')"


def vocab_encoded_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize-to-ids against a corpus-derived vocabulary — the step
    that turns a curated corpus into a trainable id stream. Vocabulary
    = top-VOCAB_SIZE terms by document frequency (ids by df DESC, term
    ASC); OOV tokens take the reserved id VOCAB_SIZE. Emits per-doc
    token/OOV counts, OOV rate, and the first ENCODE_HEAD ids in
    document order (space-joined) as the order-preserving probe.

    Scale notes in operators/textops.py::build_vocab / encode_docs:
    df counts via two-level hash agg, top-k selection (never a global
    vocab sort), broadcast encode join, one per-doc agg shuffle.
    """
    docs = fan_out(load(spark, sf_dir, "documents"))
    vocab = build_vocab(docs, "text", VOCAB_SIZE)
    enc = encode_docs(docs, vocab, "doc_id", "text", unk_id=VOCAB_SIZE,
                      head=ENCODE_HEAD)
    return enc.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        r(F.col("n_oov") / F.col("n_tokens"), 4).alias("oov_rate"),
        "ids_head",
    )


VOCAB_ENCODED_DOCS_SQL = f"""
WITH vocab AS (
  SELECT term, CAST(row_number() OVER (ORDER BY df DESC, term) - 1 AS BIGINT)
           AS token_id
  FROM (
    SELECT tok AS term, COUNT(*) AS df
    FROM (
      SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok
      FROM documents WHERE trim(text) <> ''
    )
    GROUP BY tok
    ORDER BY df DESC, term
    LIMIT {VOCAB_SIZE}
  )
),
tok AS (
  SELECT doc_id, pos, {_TOKS}[pos] AS term
  FROM (
    SELECT doc_id, text, unnest(range(1, len({_TOKS}) + 1)) AS pos
    FROM documents WHERE trim(text) <> ''
  )
),
enc AS (
  SELECT t.doc_id, t.pos,
         COALESCE(v.token_id, {VOCAB_SIZE}) AS tid
  FROM tok t LEFT JOIN vocab v ON v.term = t.term
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN tid = {VOCAB_SIZE} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       CAST(ROUND(CAST(
         SUM(CASE WHEN tid = {VOCAB_SIZE} THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)
         AS DECIMAL(38,9)), 4) AS DOUBLE) AS oov_rate,
       string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY pos)
         FILTER (WHERE pos <= {ENCODE_HEAD}) AS ids_head
FROM enc
GROUP BY doc_id
"""


# --- exact set-similarity join via prefix filtering (PPJoin family) -----------


def prefix_jaccard_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard >= 0.8 near-dup pairs via prefix filtering
    (operators/setjoin.py): candidates = docs sharing any df-ordered
    prefix shingle (equi-join on the shingle), verify = exact
    intersection/union. Unlike the MinHash tier there are no missed
    bands — the prefix theorem guarantees every true pair surfaces —
    and unlike ``jaccard_neardup_pairs`` there is no O(n^2) join.

    Same oracle-mirrored sample, shingling, rounding and threshold as
    the all-pairs tool, so the DuckDB twin is the identical exact SQL:
    the hash match proves the prefix filter loses nothing.
    """
    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < NEARDUP_SAMPLE_MAX_ID
    )
    sh = fan_out(docs).select(
        "doc_id", word_shingles(F.col("text"), SHINGLE_N).alias("sh")
    )

    def jac(a, b):
        inter = F.size(F.array_intersect(a, b))
        union = F.size(a) + F.size(b) - inter
        return r(inter.cast("double") / union, 4)

    pairs = prefix_filtered_jaccard_pairs(
        sh, "doc_id", "sh", JACCARD_THRESHOLD, jac
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "jaccard"
    )


# --- corpus statistics: PMI collocations + Zipf slope -------------------------

PMI_MIN_COUNT = 5
PMI_TOPK = 25
ZIPF_MAX_RANK = 200


def bigram_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``PMI_TOPK`` bigram collocations by pointwise mutual
    information: PMI(w1,w2) = log2(p(w1,w2) / (p(w1)p(w2))), bigram
    count >= ``PMI_MIN_COUNT`` (the classic collocation-extraction
    primitive; generalizes `graphdata.py`'s implicit corpus inspection
    to corpus statistics).

    Scale shape: bigrams come from one ``transform(slice(...))`` over
    the token array (no self-join, no posexplode join-back), then two
    hash aggs (map-side partialed) sized by vocabulary, two
    vocabulary-sized equi-joins for the unigram marginals, and two
    single-row scalar broadcasts for the totals. Top-k is
    TakeOrderedAndProject on the ROUNDED pmi (cross-engine-stable
    ordering) — never a global sort.
    """
    docs = load(spark, sf_dir, "documents")
    # split() of an empty/whitespace-only text yields [''] — filter the
    # empty token so degenerate documents can't inflate n_uni (ADVICE
    # r3; mirrored in the twin's list_filter).
    toks = docs.select(
        F.filter(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
            lambda w: w != "",
        ).alias("ts")
    )
    uni = (
        toks.select(F.explode("ts").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    bgc = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(slice(ts, 1, greatest(size(ts)-1, 0)),"
                    " (w, i) -> struct(w AS w1, ts[i+1] AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .filter(F.col("c12") >= PMI_MIN_COUNT)
    )
    # scalar totals from the token-array sizes directly — a scan +
    # single-row agg, never a second pass over the vocabulary aggregate
    n_uni = (
        toks.select(F.size("ts").alias("nu"))
        .groupBy()
        .agg(F.sum("nu").cast("double").alias("n_uni"))
    )
    n_bg = (
        toks.select(
            F.greatest(F.size("ts") - 1, F.lit(0)).alias("nb")
        )
        .groupBy()
        .agg(F.sum("nb").cast("double").alias("n_bg"))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    pmi = F.log2(
        (F.col("c12").cast("double") / F.col("n_bg"))
        / (
            (F.col("c1").cast("double") / F.col("n_uni"))
            * (F.col("c2").cast("double") / F.col("n_uni"))
        )
    )
    return (
        bgc.join(u1, "w1")
        .join(u2, "w2")
        .join(F.broadcast(n_uni))
        .join(F.broadcast(n_bg))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("bigint").alias("c12"),
            r(pmi, 4).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(PMI_TOPK)
    )


BIGRAM_PMI_TOPK_SQL = f"""
WITH toks AS (
  SELECT list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     w -> w <> '') AS ts
  FROM documents
),
uni AS (
  SELECT w, COUNT(*) AS c
  FROM (SELECT unnest(ts) AS w FROM toks) GROUP BY w
),
bgc AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM (
    SELECT ts[i] AS w1, ts[i + 1] AS w2
    FROM toks, UNNEST(generate_series(1, len(ts) - 1)) AS t(i)
  ) GROUP BY w1, w2
  HAVING COUNT(*) >= {PMI_MIN_COUNT}
),
tot AS (
  SELECT (SELECT SUM(len(ts))::DOUBLE FROM toks) AS n_uni,
         (SELECT SUM(GREATEST(len(ts) - 1, 0))::DOUBLE FROM toks) AS n_bg
)
SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
       CAST(ROUND(CAST(log2(
         (c12::DOUBLE / n_bg)
         / ((u1.c::DOUBLE / n_uni) * (u2.c::DOUBLE / n_uni))
       ) AS DECIMAL(38,9)), 4) AS DOUBLE) AS pmi
FROM bgc
JOIN uni u1 ON bgc.w1 = u1.w
JOIN uni u2 ON bgc.w2 = u2.w
CROSS JOIN tot
ORDER BY pmi DESC, w1, w2
LIMIT {PMI_TOPK}
"""


def zipf_token_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Zipf fit: OLS slope of ln(frequency) on ln(rank)
    over the top-``ZIPF_MAX_RANK`` tokens — the corpus-health
    diagnostic (natural text sits near -1; synthetic/templated text is
    flatter).

    Scale shape: one explode -> two-level hash agg (map-side
    partialed), a rank window over the vocabulary-sized aggregate
    (partitioned by lang, never the corpus), and ``regr_slope``
    (sum/covar form — a single partial-aggregable pass).
    """
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    cnt = (
        docs.select(
            "lang",
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"),
        )
        .filter(F.col("w") != "")  # ADVICE r3: [''] from empty texts
        .groupBy("lang", "w")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "w")
    ranked = cnt.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= ZIPF_MAX_RANK
    )
    return ranked.groupBy("lang").agg(
        r(
            F.regr_slope(
                F.log(F.col("n").cast("double")), F.log(F.col("rnk").cast("double"))
            ),
            4,
        ).alias("zipf_slope"),
        F.count("*").cast("bigint").alias("n_ranks"),
    )


ZIPF_TOKEN_SLOPE_SQL = f"""
WITH cnt AS (
  SELECT lang, w, COUNT(*) AS n FROM (
    SELECT lang,
           unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
    FROM documents
  ) WHERE w <> '' GROUP BY lang, w
),
ranked AS (
  SELECT lang, n,
         row_number() OVER (PARTITION BY lang ORDER BY n DESC, w) AS rnk
  FROM cnt
)
SELECT lang,
       CAST(ROUND(CAST(regr_slope(ln(n::DOUBLE), ln(rnk::DOUBLE))
         AS DECIMAL(38,9)), 4) AS DOUBLE) AS zipf_slope,
       CAST(COUNT(*) AS BIGINT) AS n_ranks
FROM ranked WHERE rnk <= {ZIPF_MAX_RANK}
GROUP BY lang
"""


def vocab_growth_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal vocabulary contribution per source: walking sources in
    lexical order, how many distinct tokens each source introduces that
    no earlier source contains, plus the running vocabulary size — the
    diversity diagnostic for choosing which corpus slices actually add
    coverage (a source whose new_tokens ~ 0 is redundant with what is
    already mixed in).

    Scale shape: one explode -> per-token MIN(source) hash aggregate
    (map-side partialed; the shuffle carries one row per distinct
    token, never per occurrence) -> a per-source count -> a running sum
    over the <= |sources| aggregated rows (bounded window, same class
    as the whitelisted totals). Oracle mirrors token-for-token.
    """
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    first = toks.groupBy("w").agg(F.min("source").alias("source"))
    counts = first.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("new_tokens")
    )
    # keep zero-contribution sources in the curve (a source whose
    # every token was already seen is exactly the signal this query
    # exists to surface)
    per = (
        docs.select("source")
        .distinct()
        .join(counts, "source", "left")
        .select(
            "source",
            F.coalesce("new_tokens", F.lit(0)).cast("long").alias("new_tokens"),
        )
    )
    w = Window.orderBy("source").rowsBetween(Window.unboundedPreceding, 0)
    return per.withColumn(
        "cumulative_vocab", F.sum("new_tokens").over(w).cast("long")
    )


VOCAB_GROWTH_BY_SOURCE_SQL = """
WITH toks AS (
  SELECT source,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents
),
first_seen AS (
  SELECT w, MIN(source) AS source FROM toks WHERE w <> '' GROUP BY w
),
counts AS (
  SELECT source, COUNT(*) AS n FROM first_seen GROUP BY source
),
per AS (
  SELECT s.source, CAST(COALESCE(c.n, 0) AS BIGINT) AS new_tokens
  FROM (SELECT DISTINCT source FROM documents) s
  LEFT JOIN counts c ON s.source = c.source
)
SELECT source, new_tokens,
       CAST(SUM(new_tokens) OVER (
         ORDER BY source ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cumulative_vocab
FROM per
"""


TFIDF_TOPK = 3


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: each document's top-``TFIDF_TOPK`` terms by
    smoothed TF-IDF (score = tf * (ln((N+1)/(df+1)) + 1)) — the
    per-document summarization primitive next to BM25's query-side
    scoring (BM25 ranks docs for a query; this ranks terms for a doc).

    Scale shape: one explode -> (doc, term) counts (map-side partial;
    the shuffle carries distinct doc-term pairs), document frequencies
    as a second vocabulary-sized agg over those pairs, the corpus size
    as a single-row broadcast, and the final rank window PARTITIONED BY
    doc (never global).
    """
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    tf = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "w")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf")
            * (
                F.log(
                    (F.col("n_docs").cast("double") + 1.0)
                    / (F.col("df").cast("double") + 1.0)
                )
                + 1.0
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.round(F.col("score").cast("decimal(38,9)"), 4).desc(), F.col("w")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOPK)
        .select(
            "doc_id",
            F.col("rnk").cast("long").alias("rnk"),
            F.col("w").alias("term"),
            F.col("tf").cast("long").alias("tf"),
            r("score", 4).alias("tfidf"),
        )
    )


TFIDF_TOP_TERMS_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents
),
tf AS (
  SELECT doc_id, w, COUNT(*) AS tf FROM toks WHERE w <> '' GROUP BY doc_id, w
),
dfreq AS (
  SELECT w, COUNT(*) AS df FROM tf GROUP BY w
),
n AS (SELECT COUNT(*)::DOUBLE AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.w, tf.tf,
         tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df::DOUBLE + 1.0)) + 1.0) AS score
  FROM tf JOIN dfreq ON tf.w = dfreq.w CROSS JOIN n
)
SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, w AS term, CAST(tf AS BIGINT) AS tf,
       CAST(ROUND(CAST(score AS DECIMAL(38,9)), 4) AS DOUBLE) AS tfidf
FROM (
  SELECT doc_id, w, tf, score,
         row_number() OVER (
           PARTITION BY doc_id
           ORDER BY ROUND(CAST(score AS DECIMAL(38,9)), 4) DESC, w
         ) AS rnk
  FROM scored
)
WHERE rnk <= {TFIDF_TOPK}
"""


# --- corpus novelty / cross-source overlap (SURVEY §2.11 text_analysis) -------

# The shared shingle expression of JACCARD_NEARDUP_PAIRS_SQL's CTE,
# reusable in twins that need per-row shingle LISTS (word_shingles
# mirror: distinct word-3-grams; short docs yield the whole text).
_SHINGLE_LIST_SQL = f"""CASE WHEN len(string_split_regex(trim(lower(text)), '\\s+')) >= {SHINGLE_N}
              THEN list_distinct(list_transform(
                     range(1, len(string_split_regex(trim(lower(text)), '\\s+')) - {SHINGLE_N - 2}),
                     i -> array_to_string(string_split_regex(trim(lower(text)), '\\s+')[i:i+{SHINGLE_N - 1}], ' ')))
              ELSE [array_to_string(string_split_regex(trim(lower(text)), '\\s+'), ' ')]
         END"""


SPARSE_COS_DIM = 262144
SPARSE_COS_THRESHOLD = 0.5
SPARSE_COS_DF_CAP = 50
# The synthetic corpus draws from a 31-word vocabulary, so the 3-gram
# shingle space SATURATES (~30k possible) as the corpus grows and
# posting lists fatten corpus-linearly — a property of the fixture, not
# the join. Same declared-sample treatment as the jaccard pair family
# (doc_id bound mirrored into the twin; a no-op at oracle scale).
SPARSE_COS_SAMPLE_MAX_ID = 20000


def sparse_tf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by SPARSE cosine over hashing-trick shingle-TF
    vectors — the inverted-index similarity join (docs only ever meet
    on shared feature buckets; the dot product accumulates in a hash
    agg). The third exact near-dup formulation next to set-Jaccard
    (prefix filter) and dense-embedding cosine: no signatures, no
    vectors shipped, candidate fan-out bounded by the stop-bucket
    df-cap (operators/setjoin.py::hashed_tf_cosine_pairs).
    """
    docs = fan_out(
        load(spark, sf_dir, "documents").filter(
            F.col("doc_id") < SPARSE_COS_SAMPLE_MAX_ID
        )
    )
    sh = docs.select("doc_id", word_shingles(F.col("text"), SHINGLE_N).alias("sh"))
    pairs = hashed_tf_cosine_pairs(
        sh,
        "doc_id",
        F.col("sh"),
        dim=SPARSE_COS_DIM,
        threshold=SPARSE_COS_THRESHOLD,
        df_cap=SPARSE_COS_DF_CAP,
    )
    return pairs.select(
        "id_a",
        "id_b",
        r(F.col("dot") / (F.col("norm_a") * F.col("norm_b")), 4).alias(
            "cosine"
        ),
    )


SPARSE_TF_COSINE_PAIRS_SQL = f"""
WITH s AS (
  SELECT doc_id, {_SHINGLE_LIST_SQL} AS sh FROM documents
  WHERE doc_id < {SPARSE_COS_SAMPLE_MAX_ID}
),
tf AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)
           % {SPARSE_COS_DIM} AS b,
         CAST(COUNT(*) AS BIGINT) AS tf
  FROM s, UNNEST(s.sh) AS u(t)
  GROUP BY 1, 2
),
norms AS (SELECT doc_id, sqrt(SUM(tf * tf)) AS nrm FROM tf GROUP BY 1),
dfc AS (SELECT b FROM tf GROUP BY b HAVING COUNT(*) <= {SPARSE_COS_DF_CAP}),
kept AS (SELECT tf.* FROM tf JOIN dfc USING (b)),
dots AS (
  SELECT a.doc_id AS id_a, b2.doc_id AS id_b, SUM(a.tf * b2.tf) AS dot
  FROM kept a JOIN kept b2 ON a.b = b2.b AND a.doc_id < b2.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(ROUND(CAST(dot / (na.nrm * nb.nrm) AS DECIMAL(38,9)), 4)
            AS DOUBLE) AS cosine
FROM dots
JOIN norms na ON na.doc_id = id_a
JOIN norms nb ON nb.doc_id = id_b
WHERE dot >= {SPARSE_COS_THRESHOLD} * na.nrm * nb.nrm
"""


def doc_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the share of a document's distinct word-
    3-gram shingles that occur in NO other document. The inter-document
    complement of doc_repetition_signals (intra-doc) and the inverse of
    contamination — a curation run up-weights high-novelty documents
    and re-inspects 0%-novelty ones (they are fully reconstructible
    from the rest of the corpus).

    Scale shape: hash aggregates ONLY — no sort-window over the gram
    stream. A gram with df==1 belongs to exactly one document, so its
    owner is recoverable as MIN(doc_id) from the same (k, count, min)
    partial-aggregated gram rollup; per-doc novel counts then come from
    a second tiny agg over the df==1 grams, joined back onto the
    per-doc totals. The exchanges carry 8-byte xxhash64 keys, not gram
    strings — same key-hashing rationale as
    operators/curation.py::ngram_decontaminate (collisions only merge
    two grams' df, ~n²/2⁶⁴; the oracle matches at test scale because
    none occur there).
    """
    docs = load(spark, sf_dir, "documents")
    counts = novelty_counts(docs, "text", "doc_id", SHINGLE_N)
    return counts.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        r(F.col("n_novel") * 100.0 / F.col("n_shingles"), 4).alias(
            "novelty_pct"
        ),
    )


DOC_NOVELTY_SCORES_SQL = f"""
WITH s AS (
  SELECT doc_id,
         {_SHINGLE_LIST_SQL} AS sh
  FROM documents
),
g AS (
  SELECT doc_id, UNNEST(sh) AS gram FROM s
),
d AS (
  SELECT doc_id, COUNT(*) OVER (PARTITION BY gram) AS df FROM g
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(ROUND(CAST(
           CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 100.0 AS DOUBLE) / COUNT(*)
         AS DECIMAL(38,9)), 4) AS DOUBLE) AS novelty_pct
FROM d
GROUP BY doc_id
"""


def source_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level redundancy matrix: Jaccard similarity of the
    distinct word-3-gram shingle SETS of every source pair that shares
    at least one shingle. Answers 'which feeds duplicate each other'
    before any per-document dedup runs — the first report a crawl
    curation pipeline pulls when deciding which sources to drop.

    Scale shape: NO self-join. Per-source shingle sets are
    hash-distinct on 8-byte xxhash64 keys (strings never reach an
    exchange); one more hash agg folds each gram's sources into a
    ``collect_set`` bounded by the SOURCE count (a small domain by
    definition), and the pair expansion is a NARROW nested transform
    over that sorted set — the small-domain co-occurrence shape,
    immune to the gram-side data volume. Set sizes re-attach via a
    broadcast of the tiny per-source size table."""
    docs = load(spark, sf_dir, "documents")
    srcs = source_shingle_sets(docs, "text", "source", SHINGLE_N)
    # ONE pass counts pairs and per-source sizes together (the
    # separate sizes aggregate re-ran the whole gram-side aggregate —
    # the heavy part — as a second consumer above the reusable
    # exchange)
    common, sizes = bounded_pair_and_member_counts(
        srcs, "ss", "source_a", "source_b"
    )
    sa = sizes.select(F.col("member").alias("source_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("member").alias("source_b"), F.col("n").alias("n_b"))
    return (
        common.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            "n_a",
            "n_b",
            r(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
    )


SOURCE_OVERLAP_JACCARD_SQL = f"""
WITH s AS (
  SELECT source,
         {_SHINGLE_LIST_SQL} AS sh
  FROM documents
),
u AS (
  SELECT DISTINCT source, gram
  FROM (SELECT source, UNNEST(sh) AS gram FROM s)
),
sz AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM u GROUP BY source
),
p AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM u a JOIN u b ON a.gram = b.gram AND a.source < b.source
  GROUP BY 1, 2
)
SELECT p.source_a, p.source_b, p.n_common, sa.n AS n_a, sb.n AS n_b,
       CAST(ROUND(CAST(
           CAST(p.n_common AS DOUBLE) / (sa.n + sb.n - p.n_common)
         AS DECIMAL(38,9)), 4) AS DOUBLE) AS jaccard
FROM p
JOIN sz sa ON sa.source = p.source_a
JOIN sz sb ON sb.source = p.source_b
"""


def sentiment_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexicon sentiment rollup (SURVEY §2.11 text_analysis
    'sentiment-score text payloads'): mean score plus positive/negative
    document counts per source — the polarity-balance report a data-mix
    designer reads before sampling.

    One tokenization per row (the token array materializes once and
    both lexicon filters read it), then a keyed hash agg; the pos/neg
    DOC counts compare integer hit counts (p > g), never the float
    score, so no cross-engine float-comparison divergence exists.
    """
    from ..functions.text import (
        SENTIMENT_NEG,
        SENTIMENT_POS,
        lexicon_hits,
        polarity_score,
        tokens,
    )

    docs = load(spark, sf_dir, "documents")
    d = docs.select("source", tokens(F.col("text")).alias("ts"))
    s = d.select(
        "source",
        F.size("ts").alias("n"),
        lexicon_hits(F.col("ts"), SENTIMENT_POS).alias("p"),
        lexicon_hits(F.col("ts"), SENTIMENT_NEG).alias("g"),
    ).withColumn("score", polarity_score(F.col("n"), F.col("p"), F.col("g")))
    return s.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        r(F.avg("score"), 4).alias("avg_sentiment"),
        F.sum((F.col("p") > F.col("g")).cast("int")).cast("long").alias("n_pos_docs"),
        F.sum((F.col("p") < F.col("g")).cast("int")).cast("long").alias("n_neg_docs"),
    )


def _sentiment_sql() -> str:
    from ..functions.text import SENTIMENT_NEG, SENTIMENT_POS

    pos = ", ".join(f"'{w}'" for w in SENTIMENT_POS)
    neg = ", ".join(f"'{w}'" for w in SENTIMENT_NEG)
    return f"""
WITH d AS (
  SELECT source, string_split_regex(trim(lower(text)), '\\s+') AS ts FROM documents
),
s AS (
  SELECT source,
         len(ts) AS n,
         len(list_filter(ts, t -> t IN ({pos}))) AS p,
         len(list_filter(ts, t -> t IN ({neg}))) AS g
  FROM d
),
sc AS (
  SELECT source, p, g,
         CASE WHEN n > 0 THEN CAST(p - g AS DOUBLE) / n ELSE 0.0 END AS score
  FROM s
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(ROUND(CAST(AVG(score) AS DECIMAL(38,9)), 4) AS DOUBLE) AS avg_sentiment,
       CAST(SUM(CASE WHEN p > g THEN 1 ELSE 0 END) AS BIGINT) AS n_pos_docs,
       CAST(SUM(CASE WHEN p < g THEN 1 ELSE 0 END) AS BIGINT) AS n_neg_docs
FROM sc GROUP BY source
"""


SENTIMENT_BY_SOURCE_SQL = _sentiment_sql()


# --- tokenizer vocabulary coverage (OOV rate per source) -----------------------

# vocab = tokens appearing in >= 1% of documents (integer doc-frequency
# test: df * 100 >= n_docs) — the "does my tokenizer's vocab cover this
# source" screen run before committing a training mix.
OOV_DF_PCT = 1


def oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per source against a corpus-derived
    vocabulary (tokens with document frequency >= {pct}% of docs).
    High OOV for one source = the tokenizer will shred it into bytes —
    the per-source coverage report every multilingual mix needs.

    Scale shape: ONE explode feeds both sides — token instances
    aggregate to (token, n_instances, df) map-side (bounded by the
    vocab, not the corpus); the doc total rides in via a broadcast
    1-row cross join (the skew_key_report pattern); per-source OOV is
    then a hash join of per-(source, token) instance counts against
    the vocab on the token key + one final per-source agg. No window,
    no driver-side vocab list.
    """
    from ..functions.text import tokens

    docs = load(spark, sf_dir, "documents")
    inst = fan_out(docs).select(
        "doc_id",
        "source",
        F.explode(tokens(F.coalesce(F.col("text"), F.lit("")))).alias("tok"),
    )
    per_tok_src = inst.groupBy("source", "tok").agg(
        F.count(F.lit(1)).alias("n_inst"),
        F.count_distinct("doc_id").alias("_df_part"),
    )
    # df = SUM of per-source distinct-doc counts — exact ONLY under the
    # one-source-per-doc contract (documents.source is a scalar column,
    # so a doc_id occurs under exactly one source; asserted in
    # tests/test_text.py). A future multi-source schema would
    # double-count df here and must switch to count_distinct over
    # (tok, doc_id) directly.
    tok_df = per_tok_src.groupBy("tok").agg(
        F.sum("_df_part").alias("df")
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    vocab = (
        tok_df.crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") * 100 >= F.col("n_docs") * OOV_DF_PCT)
        .select("tok")
    )
    joined = per_tok_src.join(
        vocab.withColumn("_in_vocab", F.lit(1)), "tok", "left"
    )
    return joined.groupBy("source").agg(
        F.sum("n_inst").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("_in_vocab").isNull(), F.col("n_inst")).otherwise(0))
        .cast("long")
        .alias("n_oov"),
        r(
            F.sum(
                F.when(F.col("_in_vocab").isNull(), F.col("n_inst")).otherwise(0)
            ).cast("double")
            * 100.0
            / F.sum("n_inst"),
            4,
        ).alias("oov_pct"),
    )


OOV_RATE_BY_SOURCE_SQL = f"""
WITH inst AS (
  SELECT doc_id, source, tok
  FROM (
    SELECT doc_id, source,
           string_split_regex(trim(lower(COALESCE(text, ''))), '\\s+') AS ts
    FROM documents
  ), UNNEST(ts) AS u(tok)
),
pts AS (
  SELECT source, tok, COUNT(*) AS n_inst, COUNT(DISTINCT doc_id) AS df_part
  FROM inst GROUP BY 1, 2
),
vocab AS (
  SELECT tok FROM (SELECT tok, SUM(df_part) AS df FROM pts GROUP BY 1),
       (SELECT COUNT(*) AS n_docs FROM documents)
  WHERE df * 100 >= n_docs * {OOV_DF_PCT}
)
SELECT source,
       CAST(SUM(n_inst) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.tok IS NULL THEN n_inst ELSE 0 END) AS BIGINT)
         AS n_oov,
       CAST(ROUND(CAST(
         CAST(SUM(CASE WHEN v.tok IS NULL THEN n_inst ELSE 0 END) AS DOUBLE)
         * 100.0 / SUM(n_inst) AS DECIMAL(38,9)), 4) AS DOUBLE) AS oov_pct
FROM pts p LEFT JOIN vocab v ON p.tok = v.tok
GROUP BY source
"""


# --- exact distributed linear regression (mirrored Gaussian elimination) -----

LINREG_FEATURES = ("intercept", "n_tokens", "n_chars", "n_long_tokens")
_LINREG_D = len(LINREG_FEATURES)  # 4x4 normal matrix, 4x5 augmented


def gauss_jordan_solve(G: list, b: list) -> list:
    """Solve G w = b by Gauss-Jordan elimination in natural pivot order
    (no row swaps — G is an SPD normal matrix, where unpivoted
    elimination is stable). Each round runs TWO functional sub-steps —
    normalize row k from the previous snapshot, then eliminate every
    other row from the NORMALIZED snapshot — because that is exactly
    the shape of the DuckDB twin's list_transform pair (`_linreg_sql`),
    making the whole float trajectory bit-identical cross-engine.
    Property-tested against numpy.linalg.solve (tests/test_text.py)."""
    d = len(b)
    M = [list(G[i]) + [b[i]] for i in range(d)]
    for k in range(d):
        piv = M[k][k]
        Mn = [
            [(M[i][j] / piv if i == k else M[i][j]) for j in range(d + 1)]
            for i in range(d)
        ]
        M = [
            [
                Mn[i][j] if i == k else Mn[i][j] - Mn[i][k] * Mn[k][j]
                for j in range(d + 1)
            ]
            for i in range(d)
        ]
    return [M[i][d] for i in range(d)]


def linreg_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distributed linear regression — the supervised sibling of
    the Lloyd/PQ/BPE/PCA trained-model family: learn least-squares
    weights predicting a document's DISTINCT-token count (vocabulary
    diversity) from surface features (token count, char length,
    long-token count), plus the R² — the 30-second "is length a sufficient
    quality proxy" diagnostic a curation pipeline runs before buying a
    fancier signal.

    Why it is oracle-EXACT end-to-end, with no rounded intermediate
    state at all: every feature and the target are INTEGERS extracted
    with the established cross-engine tokenizer/regex parity rules, so
    the normal-equation moments (the only corpus-touching pass: one
    map-side-partial aggregate of 15 BIGINT sums — SUM(x_i*x_j),
    SUM(x_i*y), SUM(y*y), n) are integer-exact in both engines; the
    4x5 augmented system is then solved by GAUSSIAN-JORDAN elimination
    in natural pivot order (SPD normal matrix — no pivoting needed)
    with the per-cell operation order mirrored in the DuckDB twin's
    unrolled CTE ladder (normalize row k from the old matrix, then
    eliminate every other row from the NORMALIZED snapshot), and R²
    comes from the same moments (ss_res = Syy - 2 w·b + wᵀGw —
    mirrored ascending folds). Only the OUTPUT rounds.

    Scale shape: one aggregation pass over the corpus (shuffle carries
    ONE row of 15 longs), O(d³)=O(1) driver arithmetic. The integer
    moments stay exact in float64 up to 2^53 — beyond ~10^9 large docs
    the twin's exactness regime would need the declared-sample
    convention (same class as the HLL twin's bounded subject).

    Tighter cross-engine bound, hit BEFORE 2^53: the int64 SUM itself.
    Spark's non-ANSI BIGINT sum WRAPS silently on overflow while the
    DuckDB twin (HUGEINT sum, CAST ... AS BIGINT) RAISES — s22 (sum of
    char-length squared) overflows first, at roughly 10^9 docs of 10^5
    chars. Past that regime, compute the quadratic moments as DOUBLE
    on both sides (or run under the declared-sample convention).
    """
    docs = load(spark, sf_dir, "documents")
    x1 = token_count(F.col("text")).cast("long")
    x2 = F.length(F.col("text")).cast("long")
    # count of tokens longer than 5 chars (argument expressions of a
    # HOF evaluate once per row; the lambda touches only its parameter)
    x3 = F.size(
        F.filter(tokens(F.col("text")), lambda w: F.length(w) > 5)
    ).cast("long")
    y = F.when(F.trim(F.col("text")) == "", F.lit(0)).otherwise(
        F.size(F.array_distinct(tokens(F.col("text"))))
    ).cast("long")
    f = docs.select(
        x1.alias("x1"), x2.alias("x2"), x3.alias("x3"), y.alias("y")
    )
    mo = f.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("x3").alias("s3"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x1") * F.col("x3")).alias("s13"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x2") * F.col("x3")).alias("s23"),
        F.sum(F.col("x3") * F.col("x3")).alias("s33"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
        F.sum(F.col("x3") * F.col("y")).alias("s3y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    ).collect()[0]  # bounded: 15 integer scalars

    n = float(mo["n"])
    G = [
        [n, float(mo["s1"]), float(mo["s2"]), float(mo["s3"])],
        [float(mo["s1"]), float(mo["s11"]), float(mo["s12"]), float(mo["s13"])],
        [float(mo["s2"]), float(mo["s12"]), float(mo["s22"]), float(mo["s23"])],
        [float(mo["s3"]), float(mo["s13"]), float(mo["s23"]), float(mo["s33"])],
    ]
    b = [float(mo["sy"]), float(mo["s1y"]), float(mo["s2y"]), float(mo["s3y"])]
    d = _LINREG_D
    w = gauss_jordan_solve(G, b)

    wb = 0.0
    for i in range(d):  # ascending folds == DuckDB list_sum
        wb += w[i] * b[i]
    wgw = 0.0
    for i in range(d):
        acc = 0.0
        for j in range(d):
            acc += G[i][j] * w[j]
        wgw += acc * w[i]
    syy = float(mo["syy"])
    sy = float(mo["sy"])
    ss_res = syy - 2.0 * wb + wgw
    ss_tot = syy - sy * sy / n
    r2 = 1.0 - ss_res / ss_tot

    out = spark.createDataFrame(
        [(LINREG_FEATURES[i], w[i]) for i in range(d)],
        "term string, weight double",
    )
    # round IN-ENGINE via the decimal route, never Python banker's round
    return out.select(
        "term",
        r(F.col("weight"), 6).alias("weight"),
        r(F.lit(r2), 6).alias("r2"),
    )


def _linreg_sql() -> str:
    d = _LINREG_D
    w5 = d + 1
    cells = d * w5
    scalars = ("n s1 s2 s3 s11 s12 s13 s22 s23 s33 sy s1y s2y s3y syy").split()
    carry = ", ".join(scalars)
    # augmented 4x5 row-major: [G row i..., b_i]
    aug = ("[CAST(n AS DOUBLE), CAST(s1 AS DOUBLE), CAST(s2 AS DOUBLE), "
           "CAST(s3 AS DOUBLE), CAST(sy AS DOUBLE), "
           "CAST(s1 AS DOUBLE), CAST(s11 AS DOUBLE), CAST(s12 AS DOUBLE), "
           "CAST(s13 AS DOUBLE), CAST(s1y AS DOUBLE), "
           "CAST(s2 AS DOUBLE), CAST(s12 AS DOUBLE), CAST(s22 AS DOUBLE), "
           "CAST(s23 AS DOUBLE), CAST(s2y AS DOUBLE), "
           "CAST(s3 AS DOUBLE), CAST(s13 AS DOUBLE), CAST(s23 AS DOUBLE), "
           "CAST(s33 AS DOUBLE), CAST(s3y AS DOUBLE)]")
    steps = []
    prev = "m0"
    for k in range(d):
        piv = f"m[{k * w5 + k + 1}]"
        steps.append(
            f"g{k}n AS (SELECT {carry}, list_transform(range(0, {cells}), "
            f"p -> CASE WHEN p // {w5} = {k} THEN m[p + 1] / {piv} "
            f"ELSE m[p + 1] END) AS mn FROM {prev})"
        )
        steps.append(
            f"g{k} AS (SELECT {carry}, list_transform(range(0, {cells}), "
            f"p -> CASE WHEN p // {w5} = {k} THEN mn[p + 1] "
            f"ELSE mn[p + 1] - mn[(p // {w5}) * {w5} + {k + 1}] * "
            f"mn[{k * w5} + (p % {w5}) + 1] END) AS m FROM g{k}n)"
        )
        prev = f"g{k}"
    wlist = ", ".join(f"m[{i * w5 + d + 1}]" for i in range(d))
    gflat = ("[CAST(n AS DOUBLE), CAST(s1 AS DOUBLE), CAST(s2 AS DOUBLE), "
             "CAST(s3 AS DOUBLE), "
             "CAST(s1 AS DOUBLE), CAST(s11 AS DOUBLE), CAST(s12 AS DOUBLE), "
             "CAST(s13 AS DOUBLE), "
             "CAST(s2 AS DOUBLE), CAST(s12 AS DOUBLE), CAST(s22 AS DOUBLE), "
             "CAST(s23 AS DOUBLE), "
             "CAST(s3 AS DOUBLE), CAST(s13 AS DOUBLE), CAST(s23 AS DOUBLE), "
             "CAST(s33 AS DOUBLE)]")
    blist = ("[CAST(sy AS DOUBLE), CAST(s1y AS DOUBLE), CAST(s2y AS DOUBLE), "
             "CAST(s3y AS DOUBLE)]")
    terms = ", ".join(
        f"({i + 1}, '{t}')" for i, t in enumerate(LINREG_FEATURES)
    )
    steps_sql = ",\n".join(steps)
    return f"""
WITH f AS (
  SELECT CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(lower(text)), '\\s+')) END AS x1,
         length(text) AS x2,
         len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         w -> length(w) > 5)) AS x3,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(list_distinct(string_split_regex(trim(lower(text)), '\\s+')))
              END AS y
  FROM documents
),
mo AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
         CAST(SUM(x3) AS BIGINT) AS s3,
         CAST(SUM(x1 * x1) AS BIGINT) AS s11, CAST(SUM(x1 * x2) AS BIGINT) AS s12,
         CAST(SUM(x1 * x3) AS BIGINT) AS s13, CAST(SUM(x2 * x2) AS BIGINT) AS s22,
         CAST(SUM(x2 * x3) AS BIGINT) AS s23, CAST(SUM(x3 * x3) AS BIGINT) AS s33,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x1 * y) AS BIGINT) AS s1y, CAST(SUM(x2 * y) AS BIGINT) AS s2y,
         CAST(SUM(x3 * y) AS BIGINT) AS s3y, CAST(SUM(y * y) AS BIGINT) AS syy
  FROM f
),
m0 AS (SELECT {carry}, {aug} AS m FROM mo),
{steps_sql},
fin AS (
  SELECT {carry}, [{wlist}] AS w, {gflat} AS gm, {blist} AS bv FROM {prev}
),
fin2 AS (
  SELECT w,
         list_sum(list_transform(range(0, {d}), i -> w[i + 1] * bv[i + 1])) AS wb,
         list_sum(list_transform(range(0, {d}), i ->
           list_sum(list_transform(range(0, {d}), j ->
             gm[i * {d} + j + 1] * w[j + 1])) * w[i + 1])) AS wgw,
         CAST(syy AS DOUBLE) AS syy_d, CAST(sy AS DOUBLE) AS sy_d,
         CAST(n AS DOUBLE) AS n_d
  FROM fin
)
SELECT t.term,
       CAST(ROUND(CAST(w[t.idx] AS DECIMAL(38,9)), 6) AS DOUBLE) AS weight,
       CAST(ROUND(CAST(CAST(1.0 AS DOUBLE) -
            (syy_d - CAST(2.0 AS DOUBLE) * wb + wgw) /
            (syy_d - sy_d * sy_d / n_d)
            AS DECIMAL(38,9)), 6) AS DOUBLE) AS r2
FROM fin2, (VALUES {terms}) AS t(idx, term)
"""


LINREG_TOKEN_DIVERSITY_SQL = _linreg_sql()


# --- exact distributed logistic regression (mirrored gradient descent) ------

LOGREG_FEATURES = ("intercept", "tokens_64th", "chars_1024th", "long_tokens_64th")
LOGREG_ITERS = 8
LOGREG_LR = 0.5  # power of two: lr * g is one exact-scalable multiply


def _r6_py(x: float) -> float:
    """Driver-side mirror of plans/base.py::r(col, 6): double ->
    DECIMAL(38,9) (half away from zero) -> ROUND(.., 6) (half away from
    zero) -> double. Decimal(float) is the exact binary value, so this
    reproduces both engines' decimal route bit-for-bit."""
    from decimal import ROUND_HALF_UP, Decimal

    d = Decimal(x).quantize(Decimal("1e-9"), rounding=ROUND_HALF_UP)
    return float(d.quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def logreg_quality_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distributed LOGISTIC regression by mirrored batch gradient
    descent — the classification sibling of ``linreg_token_diversity``:
    train a vocabulary-diversity classifier (label: does the doc's
    distinct-token count exceed half its token count) on
    power-of-two-scaled surface features, and report the learned
    weights plus training accuracy.

    Derandomized + oracle-exact the same way the Lloyd/BPE/PCA loops
    are: features are integers divided by powers of two (exact in
    float64), the per-row sigmoid is rounded 6 via the decimal route
    (collapsing the <=1-ulp cross-engine ``exp`` difference), each
    gradient component is rounded 6 after its sum (the same treatment
    as every float-sum twin in this repo), and the weight update
    ``w - lr*g/n`` re-rounds per step — the DRIVER applies the decimal
    route in Python (``_r6_py``) so Spark's collected trajectory and
    the DuckDB twin's unrolled per-iteration CTEs stay value-identical.

    Scale shape: one cached feature projection; each of the
    ``LOGREG_ITERS`` steps is ONE map-side-partial aggregate whose
    shuffle carries a single 4-double row — O(iters) passes, O(d)
    driver state, no shuffle growth with corpus size.

    Exactness caveat (probabilistic, not guaranteed): the 6-decimal
    decimal route collapses the <=1-ulp cross-engine ``exp`` delta and
    Spark's nondeterministic partial-sum order ONLY when the value does
    not land within an ulp of a 5e-7 rounding boundary. Over
    ``LOGREG_ITERS x d`` gradient components the hash compare therefore
    carries a rare inherent flake (never observed across 3 SFs and all
    driver windows to date); a boundary hit would show as a one-off
    hash mismatch with rows/schema still green — re-run before
    diagnosing, and see ``tests/test_queries.py`` for the
    tolerance-based pin that stays green regardless.
    """
    docs = load(spark, sf_dir, "documents")
    ti = token_count(F.col("text")).cast("long")
    yi = F.when(F.trim(F.col("text")) == "", F.lit(0)).otherwise(
        F.size(F.array_distinct(tokens(F.col("text"))))
    ).cast("long")
    lt = F.size(
        F.filter(tokens(F.col("text")), lambda w: F.length(w) > 5)
    ).cast("long")
    f = docs.select(
        (ti.cast("double") / F.lit(64.0)).alias("z1"),
        (F.length(F.col("text")).cast("double") / F.lit(1024.0)).alias("z2"),
        (lt.cast("double") / F.lit(64.0)).alias("z3"),
        F.when(yi * 2 >= ti, F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
    ).cache()
    try:
        n = None
        w = [0.0, 0.0, 0.0, 0.0]
        for _ in range(LOGREG_ITERS):
            z = (
                F.lit(w[0])
                + F.lit(w[1]) * F.col("z1")
                + F.lit(w[2]) * F.col("z2")
                + F.lit(w[3]) * F.col("z3")
            )
            p = r(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
            e = p - F.col("y")
            # n rides the FIRST gradient aggregate (the job that also
            # materializes the cache) instead of a separate count() —
            # the update divisor only matters from iteration 1 on
            g = f.agg(
                r(F.sum(e), 6).alias("g0"),
                r(F.sum(e * F.col("z1")), 6).alias("g1"),
                r(F.sum(e * F.col("z2")), 6).alias("g2"),
                r(F.sum(e * F.col("z3")), 6).alias("g3"),
                F.count(F.lit(1)).alias("_n"),
            ).collect()[0]
            if n is None:
                n = float(g["_n"])
            w = [
                _r6_py(w[j] - LOGREG_LR * float(g[f"g{j}"]) / n)
                for j in range(4)
            ]
        zf = (
            F.lit(w[0])
            + F.lit(w[1]) * F.col("z1")
            + F.lit(w[2]) * F.col("z2")
            + F.lit(w[3]) * F.col("z3")
        )
        pf = r(F.lit(1.0) / (F.lit(1.0) + F.exp(-zf)), 6)
        correct = f.agg(
            F.sum(
                F.when((pf >= 0.5) == (F.col("y") >= 0.5), 1).otherwise(0)
            ).alias("c")
        ).collect()[0]["c"]
    finally:
        f.unpersist()
    acc = float(correct) / n
    out = spark.createDataFrame(
        [(LOGREG_FEATURES[j], w[j]) for j in range(4)],
        "term string, weight double",
    )
    return out.select(
        "term",
        F.col("weight"),  # already rounded per step
        r(F.lit(acc), 4).alias("train_accuracy"),
    )


def _logreg_sql() -> str:
    def r6(x: str) -> str:
        return f"CAST(ROUND(CAST({x} AS DECIMAL(38,9)), 6) AS DOUBLE)"

    zexpr = "w[1] + w[2] * z1 + w[3] * z2 + w[4] * z3"
    p = r6(f"CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + exp(-({zexpr})))")
    steps = []
    prev = "w0"
    for t in range(1, LOGREG_ITERS + 1):
        steps.append(
            f"g{t} AS (SELECT "
            f"{r6('SUM(e)')} AS g0, {r6('SUM(e * z1)')} AS g1, "
            f"{r6('SUM(e * z2)')} AS g2, {r6('SUM(e * z3)')} AS g3 "
            f"FROM (SELECT ({p}) - y AS e, z1, z2, z3 FROM f, {prev}))"
        )
        upd = ", ".join(
            r6(f"w[{j + 1}] - CAST({LOGREG_LR} AS DOUBLE) * g{j} / nd")
            for j in range(4)
        )
        steps.append(
            f"w{t} AS (SELECT [{upd}] AS w FROM {prev}, g{t}, mo)"
        )
        prev = f"w{t}"
    steps_sql = ",\n".join(steps)
    terms = ", ".join(
        f"({j + 1}, '{t}')" for j, t in enumerate(LOGREG_FEATURES)
    )
    return f"""
WITH raw AS (
  SELECT CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(lower(text)), '\\s+')) END AS ti,
         length(text) AS ci,
         len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         w -> length(w) > 5)) AS lt,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(list_distinct(string_split_regex(trim(lower(text)), '\\s+')))
              END AS yi
  FROM documents
),
f AS (
  SELECT CAST(ti AS DOUBLE) / CAST(64.0 AS DOUBLE) AS z1,
         CAST(ci AS DOUBLE) / CAST(1024.0 AS DOUBLE) AS z2,
         CAST(lt AS DOUBLE) / CAST(64.0 AS DOUBLE) AS z3,
         CASE WHEN yi * 2 >= ti THEN CAST(1.0 AS DOUBLE)
              ELSE CAST(0.0 AS DOUBLE) END AS y
  FROM raw
),
mo AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM f),
w0 AS (SELECT [CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
               CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)] AS w),
{steps_sql},
acc AS (
  SELECT SUM(CASE WHEN (({p}) >= CAST(0.5 AS DOUBLE))
                       = (y >= CAST(0.5 AS DOUBLE))
             THEN 1 ELSE 0 END) AS correct
  FROM f, {prev}
)
SELECT t.term, w[t.idx] AS weight,
       CAST(ROUND(CAST(CAST(correct AS DOUBLE) / nd AS DECIMAL(38,9)), 4)
            AS DOUBLE) AS train_accuracy
FROM {prev}, acc, mo, (VALUES {terms}) AS t(idx, term)
"""


LOGREG_QUALITY_GD_SQL = _logreg_sql()


QUERIES: list[Query] = [
    Query("linreg_token_diversity", linreg_token_diversity,
          LINREG_TOKEN_DIVERSITY_SQL,
          ("text_analysis",),
          "exact distributed linear regression: integer-exact normal-"
          "equation moments (one map-side-partial pass), mirrored "
          "Gauss-Jordan solve + moments-derived R² — the supervised "
          "member of the trained-model family, oracle-exact"),
    Query("logreg_quality_gd", logreg_quality_gd, LOGREG_QUALITY_GD_SQL,
          ("text_analysis",),
          "exact distributed logistic regression by mirrored batch "
          "gradient descent: power-of-two feature scaling, decimal-"
          "routed sigmoid + per-step gradient/weight rounding — the "
          "classifier member of the trained-model family; each step "
          "is one map-side-partial aggregate (4-double shuffle row)"),
    sql_query("exact_dedup_docs", EXACT_DEDUP_DOCS_SQL,
              ("exact_dedup",), "hash-groupBy exact dedup with survivor"),
    Query("normalized_dedup_docs", normalized_dedup_docs,
          NORMALIZED_DEDUP_DOCS_SQL, ("exact_dedup", "text_analysis"),
          "normalization-insensitive exact dedup (canonical-form md5)"),
    Query("token_stats_by_lang", token_stats_by_lang, TOKEN_STATS_BY_LANG_SQL,
          ("text_analysis",), "whitespace token counting"),
    Query("tfidf_top_terms", tfidf_top_terms, TFIDF_TOP_TERMS_SQL,
          ("text_analysis",),
          "per-document top-K smoothed-TF-IDF keyword extraction"),
    Query("vocab_growth_by_source", vocab_growth_by_source,
          VOCAB_GROWTH_BY_SOURCE_SQL,
          ("text_analysis",),
          "marginal vocabulary contribution per source (first-seen "
          "token attribution + running vocab size)"),
    Query("quality_scores", quality_scores, QUALITY_SCORES_SQL,
          ("text_analysis",), "length/punct/stopword quality gate"),
    Query("corpus_data_card", corpus_data_card, CORPUS_DATA_CARD_SQL,
          ("text_analysis", "column_projection"),
          "per-language dataset card: doc/source/token/char totals, "
          "median length, corpus share (one scan, |lang|-wide agg)"),
    Query("lang_id_confusion", lang_id_confusion, LANG_ID_CONFUSION_SQL,
          ("text_analysis",), "marker-word language ID confusion matrix"),
    sql_query("doc_fingerprints", DOC_FINGERPRINTS_SQL,
              ("text_analysis", "exact_dedup"), "md5 content fingerprints"),
    Query("jaccard_neardup_pairs", jaccard_neardup_pairs_sampled,
          _doc_sampled_sql(JACCARD_NEARDUP_PAIRS_SQL, NEARDUP_SAMPLE_MAX_ID),
          ("near_dedup",), "word-3-gram Jaccard near-dup pairs (exact, sampled)"),
    Query("doc_novelty_scores", doc_novelty_scores, DOC_NOVELTY_SCORES_SQL,
          ("text_analysis", "near_dedup"),
          "per-document novelty share (shingles unseen in any other "
          "doc; keyed df window over 8-byte hashed grams)"),
    Query("source_overlap_jaccard", source_overlap_jaccard,
          SOURCE_OVERLAP_JACCARD_SQL,
          ("text_analysis", "near_dedup"),
          "cross-source shingle-set Jaccard matrix (which feeds "
          "duplicate each other, pre-dedup)"),
    Query("oov_rate_by_source", oov_rate_by_source, OOV_RATE_BY_SOURCE_SQL,
          ("text_analysis",),
          "tokenizer vocabulary coverage: OOV instance rate per source "
          "vs a corpus-derived df>=1% vocab"),
    Query("sentiment_by_source", sentiment_by_source,
          SENTIMENT_BY_SOURCE_SQL,
          ("text_analysis",),
          "lexicon sentiment rollup per source (the SURVEY §2.11 "
          "'sentiment-score text payloads' bullet; integer hit-count "
          "doc polarity, no float compares)"),
    Query("sparse_tf_cosine_pairs", sparse_tf_cosine_pairs,
          SPARSE_TF_COSINE_PAIRS_SQL,
          ("near_dedup", "text_analysis"),
          "inverted-index sparse cosine over hashed shingle-TF "
          "vectors: bucket-keyed dot-product accumulation, stop-bucket "
          "df-cap bounds fan-out"),
    Query("rolling_fingerprints", rolling_fingerprints,
          ROLLING_FINGERPRINTS_SQL,
          ("text_analysis", "exact_dedup"),
          "token rolling-hash fingerprints (md5 basis; was the one "
          "no_oracle row through r3, now hash-checked)"),
    Query("bpe_token_stats", bpe_token_stats, BPE_TOKEN_STATS_SQL,
          ("text_analysis",), "BPE-ish regex token counting per lang"),
    Query("doc_split_assignment", doc_split_assignment, DOC_SPLIT_ASSIGNMENT_SQL,
          ("text_analysis", "exact_dedup"),
          "deterministic content-hash train/val/test split"),
    Query("term_df_topk", term_df_topk, TERM_DF_TOPK_SQL,
          ("text_analysis",),
          "per-language document-frequency top-k vocabulary"),
    Query("pii_scan", pii_scan, PII_SCAN_SQL,
          ("text_analysis",),
          "PII (email/IPv4/phone) detection counts + redacted fingerprint"),
    Query("rag_chunk_spans", rag_chunk_spans, RAG_CHUNK_SPANS_SQL,
          ("text_analysis",),
          "overlapping fixed-size token chunks per document (RAG chunker)"),
    Query("bpe_merge_candidates", bpe_merge_candidates, BPE_MERGE_CANDIDATES_SQL,
          ("text_analysis",),
          "BPE tokenizer-training round: adjacent char-pair counts over "
          "the vocabulary, word-frequency weighted"),
    Query("bpe_learned_merges", bpe_learned_merges, BPE_LEARNED_MERGES_SQL,
          ("text_analysis",),
          "full iterative BPE training loop (count-argmax-merge x8, "
          "O(vocab) per round; unrolled-CTE exact twin + serial-trainer "
          "parity in pytest)"),
    Query("bpe_encode_compression", bpe_encode_compression,
          BPE_ENCODE_COMPRESSION_SQL,
          ("text_analysis",),
          "end-to-end tokenizer lifecycle: train BPE, encode the "
          "vocabulary, report corpus-weighted compression"),
    Query("bm25_topk_docs", bm25_topk_docs, BM25_TOPK_DOCS_SQL,
          ("text_analysis",),
          "BM25 lexical ranking with doc-length normalization "
          "(query-term-only explode, broadcast df/corpus stats, "
          "TakeOrdered top-k)"),
    Query("char_jaccard_neardup_pairs", char_jaccard_neardup_pairs_sampled,
          _doc_sampled_sql(CHAR_JACCARD_NEARDUP_PAIRS_SQL, CHAR_NEARDUP_SAMPLE_MAX_ID),
          ("near_dedup",),
          "char-5-gram Jaccard near-dup pairs (exact, sampled)"),
    Query("vocab_encoded_docs", vocab_encoded_docs, VOCAB_ENCODED_DOCS_SQL,
          ("text_analysis",),
          "df-ranked vocabulary build + order-preserving token-id "
          "encoding with reserved OOV id"),
    Query("prefix_jaccard_neardups", prefix_jaccard_neardups,
          _doc_sampled_sql(JACCARD_NEARDUP_PAIRS_SQL, NEARDUP_SAMPLE_MAX_ID),
          ("near_dedup",),
          "exact set-similarity join via prefix filtering (PPJoin "
          "family) == all-pairs result, no O(n^2) join"),
    Query("bigram_pmi_topk", bigram_pmi_topk, BIGRAM_PMI_TOPK_SQL,
          ("text_analysis",),
          "PMI bigram collocations (transform over token arrays, "
          "vocabulary-sized marginal joins, TakeOrdered top-k)"),
    Query("zipf_token_slope", zipf_token_slope, ZIPF_TOKEN_SLOPE_SQL,
          ("text_analysis",),
          "per-language Zipf rank-frequency OLS slope via regr_slope"),
]
