"""Time-series alignment & window operators (SURVEY.md §2.3-§2.6, §3.3).

graphdata.py's "compare co-located sensors on one Pacific-time axis"
becomes a real declarative query: tag + union the sources, bucket by
time window, aggregate — plus the window-function family the
time-series domain demands (latest-per-key, sessionization, as-of
joins). Gap detection and the trailing rolling average are SQL texts
(``plans/events.py``: ``reading_gap_detect``, ``rolling_avg_value``).

Scale notes: all Window specs partition by the series key (node /
user), so state never concentrates on one task; time-bucket
aggregation is a hash aggregate with map-side partials; the as-of fill
uses ``last(..., ignorenulls=True)`` over a key-partitioned window —
no cross-partition ordering is ever required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

def tag_source(df: DataFrame, name: str) -> DataFrame:
    return df.withColumn("source", F.lit(name))


def timeseries_align(
    sources: dict[str, DataFrame],
    ts_col: str,
    value_col: str,
    bucket: str = "5 minutes",
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Union tagged sources -> per-(window, source) average.

    The Spark-native dual of graphdata.py:99-192's shared-axis overlay
    (SURVEY §2.3 `timeseries_align`). Returns one row per
    (bucket_start, source[, extra keys]) with avg/min/max/count.
    """
    tagged = None
    for name, df in sources.items():
        sl = tag_source(
            df.select(
                F.col(ts_col).alias("ts"),
                F.col(value_col).cast("double").alias("value"),
                *[F.col(k) for k in (extra_keys or [])],
            ),
            name,
        )
        tagged = sl if tagged is None else tagged.unionByName(sl)
    keys = [F.window("ts", bucket).alias("w"), F.col("source")] + [
        F.col(k) for k in (extra_keys or [])
    ]
    return (
        tagged.groupBy(*keys)
        .agg(
            F.avg("value").alias("avg_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.count("value").alias("n"),
        )
        .select(F.col("w.start").alias("bucket_ts"), "*")
        .drop("w")
    )


def asof_fill(df: DataFrame, key: str, ts_col: str, value_col: str) -> DataFrame:
    """As-of (last-observation-carried-forward) fill within each key.

    Union-based as-of join building block: after unioning sparse series,
    every row gets the most recent non-null value per key — the
    union+``last(ignorenulls)`` formulation from SURVEY §2.3.
    """
    w = (
        Window.partitionBy(key)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(f"{value_col}_ff", F.last(value_col, ignorenulls=True).over(w))


def latest_reading_per_node(df: DataFrame, key: str, ts_col: str, tiebreak: str) -> DataFrame:
    """Current status per key — what the heartbeat dict materializes
    (AIRWISEv0.py:27,258). row_number desc == 1 (SURVEY §2.5)."""
    w = Window.partitionBy(key).orderBy(F.col(ts_col).desc(), F.col(tiebreak).desc())
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def sessionize(
    df: DataFrame, key: str, ts_col: str, gap_seconds: int = 1800
) -> DataFrame:
    """Assign session ids: a gap > ``gap_seconds`` starts a new session.
    Gaps compare in microseconds, as ``session_window`` merges them (a
    1800.8 s gap is longer than 1800 s; flooring each side to whole
    seconds could read it as 1800).

    Batch sessionization (lag + cumulative sum of new-session flags);
    the streaming dual is ``session_window`` (streaming/monitor.py).
    Outage episodes in the reference are sessions with gap = the
    100-minute offline threshold (SURVEY §2.9 windowed_ingest).
    """
    w = Window.partitionBy(key).orderBy(ts_col)
    us = F.unix_micros(ts_col)
    gap = us - F.lag(us).over(w)
    new_sess = F.when(gap.isNull() | (gap > gap_seconds * 1_000_000), 1).otherwise(0)
    return df.withColumn("_new_session", new_sess).withColumn(
        "session_id",
        F.sum("_new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    ).drop("_new_session")


def per_key_linear_trend(
    df: DataFrame, key: str, ts_col: str, value_col: str, per_seconds: float = 3600.0
) -> DataFrame:
    """Per-key least-squares trend of value over time via
    ``applyInPandas`` — the grouped-map Arrow path (one pandas frame
    per key), for per-series model fits no built-in aggregate covers.

    Returns (key, slope_per_hour, n). Oracle-checkable against SQL
    ``regr_slope(value, epoch(ts)) * 3600`` — the DuckDB twin in
    plans/events.py proves the Python/Arrow path agrees with the SQL
    definition. Rows with a null timestamp or value are dropped before
    grouping (regr_slope's NULL-pair semantics — also keeps NaT out of
    the epoch conversion); keys with <2 surviving points or zero
    time-variance yield null. Scale shape: one shuffle on the key;
    each group is one pandas batch, so state is bounded by the largest
    single series (window the input first for unbounded series).
    """
    import pandas as pd

    out_schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("slope_per_hour", T.DoubleType()),
            T.StructField("n", T.LongType()),
        ]
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf[ts_col].astype("int64") / 1e9  # epoch seconds
        y = pdf[value_col].astype("float64")
        n = len(pdf)
        slope = None
        if n >= 2 and x.nunique() > 1:
            xm, ym = x.mean(), y.mean()
            dx = x - xm
            slope = float((dx * (y - ym)).sum() / (dx * dx).sum() * per_seconds)
        return pd.DataFrame(
            {"key": [int(pdf[key].iloc[0])], "slope_per_hour": [slope], "n": [n]}
        )

    return (
        df.select(key, ts_col, value_col)
        .na.drop(subset=[ts_col, value_col])
        .groupBy(key)
        .applyInPandas(fit, out_schema)
    )


def salted_collect_list(
    df: DataFrame, key: str, value_col: str, n_salts: int = 16
) -> DataFrame:
    """Two-phase collect_list with key salting (SURVEY §4 'skewed keys
    -> salting'): phase 1 groups on (key, salt) so a hot key's values
    spread over ``n_salts`` tasks; phase 2 flattens the per-salt lists.

    Use for holistic aggregations (list/set building) where ONE key
    owns a large share of rows — partial aggregation can't spread
    those (the hot key's state still lands on one reducer), and AQE
    skew handling splits JOIN partitions, not aggregation state.
    Algebraic aggs (sum/avg/min/max/count) never need this: Spark's
    map-side partial aggregation already spreads them. List order is
    nondeterministic, as with plain collect_list. The salt is per-ROW
    (not a hash of the value — a hot key dominated by one repeated
    value would collapse back onto one salt).
    """
    salt = F.pmod(F.monotonically_increasing_id(), F.lit(n_salts)).alias("_salt")
    partial = (
        df.select(F.col(key), salt, F.col(value_col))
        .groupBy(key, "_salt")
        .agg(F.collect_list(value_col).alias("_vals"))
    )
    return partial.groupBy(key).agg(
        F.flatten(F.collect_list("_vals")).alias(f"{value_col}_list")
    )


def node_equality_filter(df: DataFrame, key: str, value) -> DataFrame:
    """Per-node slice (graphdata.py:90-91); partition-prunable at scale."""
    return df.filter(F.col(key) == F.lit(value))


def asof_join_tolerance(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    carry_cols: list[str],
    tolerance_seconds: int,
) -> DataFrame:
    """Backward as-of join with a staleness bound (pandas
    ``merge_asof(tolerance=...)`` / kdb ``aj`` semantics): every left
    row gets the ``carry_cols`` of the latest right row at-or-before
    its timestamp for the same key — unless that match is older than
    ``tolerance_seconds``, in which case the columns are null (a stale
    sensor reading should NOT be carried forward forever; plain
    ``asof_fill`` does exactly that).

    The right side must be unique per (key, ts) — pre-aggregate ties
    (e.g. ``max_by``) so semantics are deterministic in any engine.

    Scale shape: union + ONE per-key window sort — the same
    no-range-cross-product formulation as the untolerated as-of
    (SURVEY §2.3). Right rows sort before left rows at equal
    timestamps, so exact-time matches are included. Adds a long-cast
    epoch comparison per left row; nothing else.
    """
    carry = F.struct(
        F.col(right_ts).cast("long").alias("_matched_epoch"),
        *[F.col(c) for c in carry_cols],
    )
    carry_type = right.select(carry.alias("x")).schema["x"].dataType
    lrow = F.struct(*[F.col(c) for c in left.columns])
    lrow_type = left.select(lrow.alias("x")).schema["x"].dataType
    r_side = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        carry.alias("_carry"),
        F.lit(None).cast(lrow_type).alias("_lrow"),
    )
    l_side = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(carry_type).alias("_carry"),
        lrow.alias("_lrow"),
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lefts = (
        r_side.unionByName(l_side)
        .withColumn("_m", F.last("_carry", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
    )
    within = F.col("_m").isNotNull() & (
        (F.col("_ts").cast("long") - F.col("_m._matched_epoch"))
        <= tolerance_seconds
    )
    matched = F.when(within, F.col("_m"))
    return lefts.select(
        "_lrow.*",
        matched["_matched_epoch"].alias("matched_epoch"),
        *[matched[c].alias(c) for c in carry_cols],
    )
