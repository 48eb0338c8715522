"""Scalar/column function library (SURVEY.md §2.8).

Every scalar the reference computes, as composable Column expressions.
Built-ins only — zero Python UDFs — so everything stays inside
whole-stage codegen.
"""

from .scalars import (  # noqa: F401
    epoch_to_timestamp,
    f_to_c,
    ingest_wallclock_stamp,
    round_cols,
    timestamp_parse_coerce,
    try_double,
    tz_suffix_strip,
    utc_to_pacific,
)
from .text import (  # noqa: F401
    doc_fingerprint_md5,
    lang_id_pred,
    quality_features,
    token_count,
    tokens,
    word_shingles,
)
from .vectors import cosine_similarity, dot, l2_norm  # noqa: F401
