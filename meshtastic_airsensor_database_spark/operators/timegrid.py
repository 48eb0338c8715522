"""Dense time-grid materialization: gap filling + interpolation.

The reference's analytics align two sensor series on a shared time
axis and plot them (graphdata.py:99-192); missing readings show as
chart gaps. This operator is the engine-native generalization — the
``time_bucket_gapfill`` primitive of time-series stores: bucket each
key's readings, materialize the FULL regular grid between the key's
first and last bucket, and fill the holes (forward fill / linear
interpolation), so downstream rollups and charting see a dense series.

Scale shape (100 TB): one shuffle for the per-(key, bucket) aggregate;
the grid is generated per key with ``sequence()`` + ``explode`` — a
narrow operation whose fan-out is bounded by (time span / bucket), not
by input rows; the fills are two per-key ordered windows. Nothing
driver-side, no Python row path. Skewed keys (one node with a years-
long span) bound the per-key grid; cap with ``max_buckets_per_key``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def time_bucket(ts_col: Column, bucket_seconds: int) -> Column:
    """Epoch-aligned bucket index (floor of epoch seconds / width).

    ``cast(ts as long)`` floors sub-second timestamps, matching the
    DuckDB twin ``CAST(FLOOR(epoch(ts) / w) AS BIGINT)``.
    """
    return F.floor(ts_col.cast("long") / bucket_seconds).cast("long")


def gapfill(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    bucket_seconds: int,
    max_buckets_per_key: int | None = None,
) -> DataFrame:
    """Per-key dense bucket grid with forward-filled and linearly
    interpolated values.

    Output columns: ``(key, bucket_epoch, v_raw, v_ff, v_interp)``:

    - ``bucket_epoch`` — bucket start in epoch seconds (BIGINT; the
      tz-free representation both engines render identically);
    - ``v_raw`` — avg(value) for buckets that have readings, else null;
    - ``v_ff`` — last non-null ``v_raw`` at or before this bucket
      (null until the first reading);
    - ``v_interp`` — ``v_raw`` where present; linear interpolation
      between the surrounding non-null buckets inside a gap; falls back
      to forward fill after the last reading (and to the next reading's
      value before the first — unreachable here since grids start at
      each key's first reading).
    """
    bucket = time_bucket(F.col(ts_col), bucket_seconds)
    agg = (
        df.select(F.col(key), bucket.alias("bucket"), F.col(value_col).alias("_v"))
        .groupBy(key, "bucket")
        .agg(F.avg("_v").alias("v_raw"))
    )
    # Per-key grid bounds. The second shuffle (groupBy key) is keyed on
    # a strict prefix of (key, bucket), so AQE/partitioning reuse keeps
    # it cheap; the explode after it is narrow.
    bounds = agg.groupBy(key).agg(
        F.min("bucket").alias("_mn"), F.max("bucket").alias("_mx")
    )
    if max_buckets_per_key is not None:
        bounds = bounds.withColumn(
            "_mx", F.least(F.col("_mx"), F.col("_mn") + max_buckets_per_key - 1)
        )
    grid = bounds.select(
        key, F.explode(F.sequence(F.col("_mn"), F.col("_mx"))).alias("bucket")
    )
    dense = grid.join(agg, [key, "bucket"], "left")

    w_back = (
        Window.partitionBy(key)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy(key)
        .orderBy("bucket")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    known_bucket = F.when(F.col("v_raw").isNotNull(), F.col("bucket"))
    prev_v = F.last("v_raw", ignorenulls=True).over(w_back)
    prev_b = F.last(known_bucket, ignorenulls=True).over(w_back)
    next_v = F.first("v_raw", ignorenulls=True).over(w_fwd)
    next_b = F.first(known_bucket, ignorenulls=True).over(w_fwd)

    interp = F.when(F.col("v_raw").isNotNull(), F.col("v_raw")).otherwise(
        F.when(
            prev_v.isNotNull() & next_v.isNotNull(),
            prev_v
            + (next_v - prev_v)
            * (F.col("bucket") - prev_b)
            / (next_b - prev_b),
        ).otherwise(F.coalesce(prev_v, next_v))
    )
    return dense.select(
        key,
        (F.col("bucket") * bucket_seconds).cast("long").alias("bucket_epoch"),
        "v_raw",
        prev_v.alias("v_ff"),
        interp.alias("v_interp"),
    )
