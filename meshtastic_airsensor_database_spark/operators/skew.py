"""Key-salting for skewed shuffles (SURVEY.md §4.2 scale toolkit).

A shuffle hash-partitions by key, so one hot key (the Zipf head node,
the empty-string language tag, the null user) lands its entire volume
on ONE reduce task — the stage then runs as long as that task no matter
how many executors exist. AQE's skew-join handling splits oversized
partitions at runtime, but only for sort-merge joins it can re-plan;
salting is the ahead-of-time tool that works for any join/aggregate
shape and composes with AQE rather than replacing it.

Shape provided:

- ``salted_join``: fact-side rows get a deterministic salt in
  ``[0, salt_n)``; the (small-but-not-broadcastable) build side is
  replicated once per salt value; the equi-join runs on
  ``keys + [salt]``, splitting each hot key's volume across ``salt_n``
  reduce tasks. Build-side cost is ``salt_n x |build|`` rows — the
  classic trade: pick ``salt_n`` ~ (hot-key volume / target partition
  size), not hundreds.

The salt is ``xxhash64(fact columns) % salt_n`` — deterministic (same
row always gets the same salt, so retries/replays stay idempotent and
results are reproducible across engines/clusters), uniform, and free of
the rand()-breaks-task-retry hazard documented for nondeterministic
expressions in shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "_salt"


def with_salt(df: DataFrame, salt_n: int, salt_on: list[str] | None = None) -> DataFrame:
    """Add a deterministic ``_salt`` column in ``[0, salt_n)`` derived
    from ``salt_on`` (default: every column — any row-identifying
    subset works; prefer a unique id column when one exists so salt
    values stay uniform under duplicated rows)."""
    cols = salt_on if salt_on is not None else df.columns
    return df.withColumn(SALT_COL, F.pmod(F.xxhash64(*cols), F.lit(salt_n)))


def replicate_for_salt(df: DataFrame, salt_n: int) -> DataFrame:
    """Replicate the build side once per salt value (salt_n x rows)."""
    return df.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(salt_n - 1)))
    )


def salted_join(
    facts: DataFrame,
    build: DataFrame,
    on: list[str],
    salt_n: int,
    how: str = "inner",
    salt_on: list[str] | None = None,
) -> DataFrame:
    """Skew-resistant equi-join: identical rows to ``facts.join(build,
    on, how)`` but each hot join key's fact volume is spread over
    ``salt_n`` reduce tasks.

    Only ``inner`` and ``left`` are legal: under ``right``/``full`` the
    replicated build side would surface unmatched rows once per salt
    value, silently multiplying them.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left' (got {how!r}): "
            "outer build-side rows would be duplicated salt_n times"
        )
    if salt_n < 1:
        raise ValueError(f"salt_n must be >= 1 (got {salt_n})")
    f = with_salt(facts, salt_n, salt_on)
    b = replicate_for_salt(build, salt_n)
    return f.join(b, on + [SALT_COL], how).drop(SALT_COL)
