"""Shared plumbing for declared queries.

Parity conventions (driver hash-compares Spark vs DuckDB at sf0.01):
- every computed double is ``round(x, N)`` with the same N on both
  sides (parallel double summation differs in the last ulp; rounding
  makes the hash stable);
- integer sums / row_number are cast to BIGINT on both sides (DuckDB
  widens integer SUM to HUGEINT, Spark to LONG);
- column names are aliased identically on both sides;
- ORDER BY never matters (driver hash is order-insensitive) but LIMIT
  queries always order by a unique tie-break key so both engines pick
  the same rows.

A query whose twin text already runs on Spark and plans like a
hand-written builder is declared once, with ``sql_query``: the same
text is its Spark builder and its DuckDB oracle. Such a text may carry
Spark hint comments (``SELECT /*+ BROADCAST(customer) */ ...``), which
DuckDB reads as plain comments.

The DuckDB spelling bridge (``BRIDGE``) lets a twin that calls a
DuckDB-only scalar function run on Spark unchanged: each such function
is defined once per session as a Spark SQL function, whose body the
analyzer inlines (the plan holds the body's expression, no UDF
boundary). The bridge covers scalar functions only. Spark rejects an
aggregate in a SQL function body, so ``quantile_cont``/``arg_max``
cannot be bridged, nor can a name Spark already has as a builtin
(``range``).
"""

from __future__ import annotations

import re
import weakref
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..io_utils import load
from ..schemas import TESTDATA_TABLES

Builder = Callable[[SparkSession, str], DataFrame]


def r(col, n: int = 2):
    """Parity-safe double rounding.

    Naive ROUND on doubles diverges between engines at shortest-repr
    ``.xx5`` boundaries (Java rounds the decimal string HALF_UP; C
    rounds the binary value). Routing through DECIMAL(38,9) first
    collapses cross-engine ulp noise to the same 9-decimal value, and
    decimal->2 rounding is exact half-away-from-zero in both engines.
    SQL twin: ``CAST(ROUND(CAST(x AS DECIMAL(38,9)), n) AS DOUBLE)``.
    """
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return F.round(c.cast("decimal(38,9)"), n).cast("double")


@dataclass(frozen=True)
class Query:
    """One declared query: Spark builder + optional DuckDB oracle SQL."""

    name: str
    builder: Builder
    oracle: str | None
    survey_ids: tuple[str, ...] = field(default_factory=tuple)
    description: str = ""


# DuckDB scalar spellings the twin texts call, as Spark SQL functions:
# - epoch(ts): seconds since 1970 as a double, negative before it;
# - epoch_us(ts): microseconds since 1970;
# - epoch_ms(ms): DuckDB's millis -> timestamp overload;
# - json_extract_string: absent key or JSON null -> NULL. Malformed JSON
#   gives NULL here where DuckDB raises (the reference's
#   ``.get(key, None)`` semantics; the testdata holds no malformed JSON).
BRIDGE = (
    "CREATE OR REPLACE TEMPORARY FUNCTION epoch(t TIMESTAMP) RETURNS DOUBLE"
    " RETURN unix_micros(t) / 1000000D",
    "CREATE OR REPLACE TEMPORARY FUNCTION epoch_us(t TIMESTAMP) RETURNS BIGINT"
    " RETURN unix_micros(t)",
    "CREATE OR REPLACE TEMPORARY FUNCTION epoch_ms(ms BIGINT) RETURNS TIMESTAMP"
    " RETURN timestamp_millis(ms)",
    "CREATE OR REPLACE TEMPORARY FUNCTION json_extract_string(j STRING, p STRING)"
    " RETURNS STRING RETURN get_json_object(j, p)",
)

# The sf_dir each testdata temp view currently reads, per session. Temp
# views and functions belong to a SparkSession, so the key is the
# session object (not the applicationId, which sibling sessions share).
_BOUND_VIEWS: weakref.WeakKeyDictionary[SparkSession, dict[str, str]] = (
    weakref.WeakKeyDictionary()
)
_TABLE_RE = re.compile(r"\b(" + "|".join(TESTDATA_TABLES) + r")\b")


def sql_builder(text: str) -> Builder:
    """A builder that runs ``text`` with ``spark.sql``.

    The testdata tables the text names are bound as temp views of
    ``io_utils.load`` once per session and sf_dir, and rebound only when
    the sf_dir changes; the ``BRIDGE`` functions are defined on a
    session's first build. Rebinding all eight star-schema views on every
    build adds 30-60 ms per build (sf0.01, 4 cores), more than
    ``spark.sql`` saves over a DataFrame builder of the same query
    (``pricing_summary``: 33 ms bound once, 95 ms rebound, 66 ms as
    DataFrame calls). Only the named tables are bound, so a directory
    holding just those tables is enough. ``spark.sql`` analyzes eagerly,
    so a frame built before a rebind keeps reading the directory it was
    built on; builds on two sf_dirs at once in one session would race.
    """
    tables = sorted(set(_TABLE_RE.findall(text)))

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        bound = _BOUND_VIEWS.get(spark)
        if bound is None:
            for stmt in BRIDGE:
                spark.sql(stmt)
            bound = _BOUND_VIEWS[spark] = {}
        for t in tables:
            if bound.get(t) != sf_dir:
                load(spark, sf_dir, t).createOrReplaceTempView(t)
                bound[t] = sf_dir
        return spark.sql(text)

    build.sql = text  # type: ignore[attr-defined]
    return build


def sql_query(name: str, text: str, survey_ids: tuple[str, ...] = (),
              description: str = "") -> Query:
    """A query declared once: ``text`` is both its Spark builder (see
    ``sql_builder``) and its DuckDB oracle."""
    return Query(name, sql_builder(text), text, survey_ids, description)
