"""Scalar column functions — reference parity (SURVEY.md §2.8).

Each function cites the reference behavior it re-expresses. All are
pure Column expressions (JVM-side, codegen'd); none cross the Python
row boundary.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PACIFIC_TZ = "America/Los_Angeles"


def epoch_to_timestamp(col: Column | str) -> Column:
    """Device epoch-seconds -> TimestampType.

    Reference: ``timestamp_node`` carried as BIGINT epoch seconds
    (AIRWISEv0.py:134,151; sample 1760748340 at AIRWISEv1.py:48).
    """
    return F.timestamp_seconds(F.col(col) if isinstance(col, str) else col)


def ingest_wallclock_stamp(tz: str = PACIFIC_TZ) -> Column:
    """Ingestion wall-clock string ``'%Y-%m-%d %H:%M:%S %Z'``.

    Reference: ``datetime.now().astimezone().strftime(...)``
    (AIRWISEv0.py:135,152). The engine also keeps a proper
    TimestampType column; this is the display rendering only.
    """
    return F.date_format(
        F.from_utc_timestamp(F.current_timestamp(), tz), "yyyy-MM-dd HH:mm:ss zzz"
    )


def timestamp_parse_coerce(col: Column | str, fmt: str | None = None) -> Column:
    """Parse string -> timestamp; unparseable -> null (never throws).

    Reference: ``pd.to_datetime(errors='coerce')`` (cleandata.py:22,
    graphdata.py:20,50-53).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.try_to_timestamp(c, F.lit(fmt)) if fmt else F.try_to_timestamp(c)


def utc_to_pacific(col: Column | str) -> Column:
    """UTC timestamp -> America/Los_Angeles wall clock.

    Reference: ``dt.tz_convert('America/Los_Angeles')`` (cleandata.py:27).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.from_utc_timestamp(c, PACIFIC_TZ)


def tz_suffix_strip(col: Column | str) -> Column:
    """Strip a trailing ``' Pacific (Standard|Daylight) Time'`` suffix.

    Reference handles only the literal PST suffix
    (graphdata.py:50-53); the PDT variant is a documented semantic fix.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, r" Pacific (Standard|Daylight) Time$", "")


def f_to_c(col: Column | str) -> Column:
    """Fahrenheit -> Celsius: ``(F - 32) * 5/9`` (graphdata.py:24)."""
    c = F.col(col) if isinstance(col, str) else col
    return (c - F.lit(32.0)) * F.lit(5.0) / F.lit(9.0)


def try_double(col: Column | str) -> Column:
    """Mixed/string column -> double, errors -> null.

    Reference: ``pd.to_numeric(errors='coerce')`` (graphdata.py:27-37).
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast("double")


def round_cols(df: DataFrame, cols: Iterable[str], scale: int = 3) -> DataFrame:
    """Round measurement columns in place (cleandata.py:44-46)."""
    out = df
    for name in cols:
        out = out.withColumn(name, F.round(F.col(name), scale))
    return out


def string_agg_topics(col: Column | str, sep: str = ", ") -> Column:
    """Aggregate a column of strings into one separator-joined string
    (SURVEY §2.8 string_agg_topics; the reference joins its subscribed
    topic list for the startup alert, AIRWISEv0.py:369).

    ``concat_ws`` skips nulls, matching ``", ".join`` over present
    values. Order-sensitive callers should sort upstream (collect_list
    order is partition order).
    """
    return F.concat_ws(sep, F.collect_list(col))
