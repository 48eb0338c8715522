"""Advanced time-series queries over ``events``: dense gap-filled
grids, interval (range) joins, ordered funnels, robust outlier
detection (SURVEY.md §2.12 extension surface).

These are the time-series capabilities a telemetry engine needs beyond
the reference's sort-and-plot analytics (graphdata.py): the missing-
bucket handling its charts show as gaps, the "which readings fall in
this maintenance window" join, the per-node event-order questions, and
a quality gate for sensor glitches. Oracle conventions per
plans/base.py (decimal-routed rounding, BIGINT casts, epoch longs for
bucket axes, identical aliases).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io_utils import ephemeral_dir, fan_out, load, materialize
from ..operators.align import sessionize
from ..operators.intervals import bucketed_range_join
from ..operators.ordered import global_ntile, global_rank_cumsum
from ..operators.timegrid import gapfill
from ..streaming.rollup import maintain_rollup, read_rollup
from .base import Query, r, sql_query

# --- dense gap-filled grid (time_gapfill) -------------------------------------

GAPFILL_BUCKET_S = 14400  # 4-hour buckets: 150 users x ~180 buckets at sf0.01


def gapfill_value_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user dense 4-hour grid of avg(value) with forward fill and
    linear interpolation — the ``time_bucket_gapfill`` primitive.

    Scale: one agg shuffle + per-key bounded explode + two per-key
    windows (operators/timegrid.py). The grid axis is epoch seconds
    (BIGINT) — the tz-free representation both engines agree on.
    """
    ev = load(spark, sf_dir, "events")
    g = gapfill(ev, "user_id", "ts", "value", GAPFILL_BUCKET_S)
    return g.select(
        "user_id",
        "bucket_epoch",
        r("v_raw", 2).alias("v_raw"),
        r("v_ff", 2).alias("v_ff"),
        r("v_interp", 2).alias("v_interp"),
    )


_R2 = "CAST(ROUND(CAST({x} AS DECIMAL(38,9)), 2) AS DOUBLE)"
_R3 = "CAST(ROUND(CAST({x} AS DECIMAL(38,9)), 3) AS DOUBLE)"

_INTERP_EXPR = (
    "CASE WHEN v_raw IS NOT NULL THEN v_raw "
    "WHEN prev_v IS NOT NULL AND next_v IS NOT NULL "
    "THEN prev_v + (next_v - prev_v) * (bucket - prev_b) / (next_b - prev_b) "
    "ELSE COALESCE(prev_v, next_v) END"
)

GAPFILL_VALUE_GRID_SQL = f"""
WITH agg AS (
  SELECT user_id, CAST(FLOOR(epoch(ts) / {GAPFILL_BUCKET_S}) AS BIGINT) AS bucket,
         AVG(value) AS v_raw
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT user_id, MIN(bucket) AS mn, MAX(bucket) AS mx FROM agg GROUP BY 1),
grid AS (SELECT user_id, unnest(range(mn, mx + 1)) AS bucket FROM bounds),
dense AS (
  SELECT g.user_id, g.bucket, a.v_raw
  FROM grid g LEFT JOIN agg a USING (user_id, bucket)
),
f AS (
  SELECT user_id, bucket, v_raw,
    last_value(v_raw IGNORE NULLS) OVER wback AS prev_v,
    last_value(CASE WHEN v_raw IS NOT NULL THEN bucket END IGNORE NULLS)
      OVER wback AS prev_b,
    first_value(v_raw IGNORE NULLS) OVER wfwd AS next_v,
    first_value(CASE WHEN v_raw IS NOT NULL THEN bucket END IGNORE NULLS)
      OVER wfwd AS next_b
  FROM dense
  WINDOW
    wback AS (PARTITION BY user_id ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wfwd AS (PARTITION BY user_id ORDER BY bucket
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, CAST(bucket * {GAPFILL_BUCKET_S} AS BIGINT) AS bucket_epoch,
       {_R2.format(x="v_raw")} AS v_raw,
       {_R2.format(x="prev_v")} AS v_ff,
       {_R2.format(x=_INTERP_EXPR)} AS v_interp
FROM f
"""


# --- interval (range) join (range_interval_join) ------------------------------

INTERVAL_SPAN_S = 21600  # 6-hour windows anchored on sampled click events


def interval_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-interval stats of events falling inside deterministic 6-hour
    windows (anchored on every 20th-id click event, same user) — the
    point-in-interval join every maintenance-window / incident-scoping
    analysis needs.

    Scale: operators/intervals.py reduces the theta join to a hash
    equi-join on (user_id, time-bucket) with bounded interval fan-out —
    no BroadcastNestedLoop/cartesian at any input size.
    """
    ev = load(spark, sf_dir, "events")
    iv = (
        ev.filter((F.col("event_type") == "click") & (F.col("event_id") % 20 == 0))
        .select(
            F.col("event_id").alias("interval_id"),
            "user_id",
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr(f"INTERVAL {INTERVAL_SPAN_S} SECONDS")).alias(
                "end_ts"
            ),
        )
    )
    pts = ev.select("event_id", "ts", "user_id", "value")
    joined = bucketed_range_join(
        pts, iv, "ts", "start_ts", "end_ts",
        on=["user_id"], bucket_seconds=INTERVAL_SPAN_S,
    )
    return joined.groupBy("interval_id", "user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        r(F.avg("value"), 2).alias("avg_value"),
        F.max("ts").alias("last_event_ts"),
    )


INTERVAL_EVENT_STATS_SQL = f"""
WITH iv AS (
  SELECT event_id AS interval_id, user_id, ts AS start_ts,
         ts + INTERVAL {INTERVAL_SPAN_S} SECOND AS end_ts
  FROM events WHERE event_type = 'click' AND event_id % 20 = 0
)
SELECT iv.interval_id, iv.user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       {_R2.format(x="AVG(e.value)")} AS avg_value,
       MAX(e.ts) AS last_event_ts
FROM iv JOIN events e
  ON e.user_id = iv.user_id AND e.ts >= iv.start_ts AND e.ts <= iv.end_ts
GROUP BY 1, 2
"""


# --- ordered funnel (funnel_pattern) ------------------------------------------

FUNNEL_STEPS = ("view", "click", "purchase")


FUNNEL_CONVERSION_SQL = f"""
WITH a AS (
  SELECT user_id, MIN(ts) AS ts_1 FROM events
  WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY 1
),
b AS (
  SELECT e.user_id, MIN(e.ts) AS ts_2
  FROM events e JOIN a USING (user_id)
  WHERE e.event_type = '{FUNNEL_STEPS[1]}' AND e.ts > a.ts_1 GROUP BY 1
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS ts_3
  FROM events e JOIN b USING (user_id)
  WHERE e.event_type = '{FUNNEL_STEPS[2]}' AND e.ts > b.ts_2 GROUP BY 1
)
SELECT a.user_id, a.ts_1, b.ts_2, c.ts_3,
       CAST(CASE WHEN c.ts_3 IS NOT NULL THEN 3
                 WHEN b.ts_2 IS NOT NULL THEN 2
                 ELSE 1 END AS INTEGER) AS funnel_depth
FROM a LEFT JOIN b USING (user_id) LEFT JOIN c USING (user_id)
"""


# --- robust outliers (robust_outlier_detect) ----------------------------------

MAD_Z_THRESHOLD = 3.5
MAD_CONSISTENCY = 0.6745  # Phi^-1(0.75): MAD -> sigma-equivalent scale


VALUE_OUTLIERS_MAD_SQL = f"""
WITH med AS (SELECT user_id, median(value) AS med FROM events GROUP BY 1),
mad AS (
  SELECT e.user_id, median(abs(e.value - m.med)) AS mad
  FROM events e JOIN med m USING (user_id) GROUP BY 1
)
SELECT e.event_id, e.user_id,
       {_R2.format(x="e.value")} AS value,
       {_R3.format(x=f"{MAD_CONSISTENCY} * (e.value - m.med) / d.mad")} AS robust_z
FROM events e JOIN med m USING (user_id) JOIN mad d USING (user_id)
WHERE d.mad > 0
  AND abs({MAD_CONSISTENCY} * (e.value - m.med) / d.mad) > {MAD_Z_THRESHOLD}
"""


# --- last-touch attribution (attribution_asof) --------------------------------

ATTRIB_TOUCH_TYPES = ("view", "click")


def last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each 'purchase' is credited to
    the user's most recent PRECEDING touch event ('view'/'click'),
    with the touch id/type and the seconds elapsed — the per-conversion
    as-of question a funnel aggregate can't answer.

    Scale shape: ONE per-user window sort serves all three attributed
    columns (``last(..., ignorenulls)`` over rows up to the previous
    event — the LOCF idiom of ``asof_latest_view_value``); the
    purchase filter then prunes the carried columns. No join at all:
    the event stream attributes itself in a single exchange on
    user_id. Ties at the same timestamp break on event_id in BOTH
    engines, so the ordering is total and cross-engine stable."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin(*ATTRIB_TOUCH_TYPES)
    touched = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "value",
        F.last(F.when(is_touch, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("touch_event_id"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(is_touch, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_ts"),
    )
    return touched.filter(
        (F.col("event_type") == "purchase") & F.col("touch_event_id").isNotNull()
    ).select(
        "event_id",
        "user_id",
        "touch_event_id",
        "touch_type",
        (F.col("ts").cast("long") - F.col("touch_ts").cast("long"))
        .cast("bigint")
        .alias("sec_since_touch"),
        r("value", 2).alias("attributed_value"),
    )


_TOUCH_IN = ", ".join(f"'{t}'" for t in ATTRIB_TOUCH_TYPES)

LAST_TOUCH_ATTRIBUTION_SQL = f"""
WITH w AS (
  SELECT event_id, user_id, ts, event_type, value,
         last_value(CASE WHEN event_type IN ({_TOUCH_IN}) THEN event_id END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS touch_event_id,
         last_value(CASE WHEN event_type IN ({_TOUCH_IN}) THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS touch_type,
         last_value(CASE WHEN event_type IN ({_TOUCH_IN}) THEN ts END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS touch_ts
  FROM events
)
SELECT event_id, user_id, touch_event_id, touch_type,
       CAST(FLOOR(epoch(ts)) - FLOOR(epoch(touch_ts)) AS BIGINT)
         AS sec_since_touch,
       {_R2.format(x="value")} AS attributed_value
FROM w
WHERE event_type = 'purchase' AND touch_event_id IS NOT NULL
"""


# --- incremental rollup (continuous_aggregate) --------------------------------

ROLLUP_SLICES = 4
ROLLUP_KEYS = ["user_id", "event_type"]

# One maintenance run per (session, sf_dir): the maintained table is the
# system under test; every invocation of the query reads the same
# materialization (mirrors _REPLAY_CACHE in plans/streamq.py).
_ROLLUP_CACHE: dict[tuple[str, str], str] = {}


def _maintained_rollup_path(
    spark: SparkSession,
    sf_dir: str,
    keys: list | None = None,
    distinct_col: str | None = None,
    tag: str = "hourly",
) -> str:
    key = (spark.sparkContext.applicationId, sf_dir, tag)
    path = _ROLLUP_CACHE.get(key)
    if path is not None and os.path.isdir(path):
        return path
    path = os.path.join(ephemeral_dir("rollup_maint_"), tag)
    ev = load(spark, sf_dir, "events")
    # Slice by event-id residue, NOT by time: every slice then scatters
    # events across the full date range, forcing each maintenance pass
    # to merge into already-written partitions — the adversarial
    # (maximally late/out-of-order) arrival order for the merge algebra.
    for i in range(ROLLUP_SLICES):
        maintain_rollup(
            ev.filter(F.pmod(F.col("event_id"), F.lit(ROLLUP_SLICES)) == i),
            path,
            keys=list(keys) if keys is not None else ROLLUP_KEYS,
            distinct_col=distinct_col,
        )
    _ROLLUP_CACHE[key] = path
    return path


def incremental_rollup_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly (user, type) aggregate read from a MATERIALIZED rollup
    maintained incrementally from 4 out-of-order micro-batch slices —
    the continuous-aggregate path a dashboard hits instead of re-scanning
    raw facts. The oracle recomputes the same aggregate from the full
    raw table in one pass, so a hash match proves incremental
    maintenance == full recompute (streaming/rollup.py)."""
    path = _maintained_rollup_path(spark, sf_dir)
    roll = read_rollup(spark, path, ROLLUP_KEYS)
    return roll.select(
        "user_id",
        "event_type",
        "hour_ts",
        r("avg_value", 2).alias("avg_value"),
        r("min_value", 2).alias("min_value"),
        r("max_value", 2).alias("max_value"),
        F.col("n").cast("long").alias("n"),
    )


INCREMENTAL_ROLLUP_HOURLY_SQL = f"""
SELECT user_id, event_type, date_trunc('hour', ts) AS hour_ts,
       {_R2.format(x="AVG(value)")} AS avg_value,
       {_R2.format(x="MIN(value)")} AS min_value,
       {_R2.format(x="MAX(value)")} AS max_value,
       CAST(COUNT(value) AS BIGINT) AS n
FROM events GROUP BY 1, 2, 3
"""


def daily_rollup_from_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily grain derived from the MATERIALIZED hourly partials — the
    rollup-cascade step (hour -> day -> month) of a continuous
    aggregate: sums add, counts add, mins/maxes fold, so every coarser
    grain is one small re-merge over stored state (24 x keys rows per
    day), never a raw-fact rescan. The oracle recomputes daily stats
    from the full raw table, so the hash match proves the cascade
    algebra end to end on the same 4-slice out-of-order maintenance
    run that backs ``incremental_rollup_hourly``."""
    path = _maintained_rollup_path(spark, sf_dir)
    parts = spark.read.parquet(path)
    day = parts.groupBy(
        F.date_trunc("day", F.col("hour_ts")).alias("day_ts"),
        "user_id",
        "event_type",
    ).agg(
        F.sum("sum_value").alias("sum_value"),
        F.sum("cnt").alias("cnt"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )
    return day.select(
        "user_id",
        "event_type",
        "day_ts",
        r(F.col("sum_value") / F.col("cnt"), 2).alias("avg_value"),
        r("min_value", 2).alias("min_value"),
        r("max_value", 2).alias("max_value"),
        F.col("cnt").cast("long").alias("n"),
    )


DAILY_ROLLUP_FROM_HOURLY_SQL = f"""
SELECT user_id, event_type,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_ts,
       {_R2.format(x="AVG(value)")} AS avg_value,
       {_R2.format(x="MIN(value)")} AS min_value,
       {_R2.format(x="MAX(value)")} AS max_value,
       CAST(COUNT(value) AS BIGINT) AS n
FROM events GROUP BY 1, 2, 3
"""


def _maintained_cms_path(spark: SparkSession, sf_dir: str) -> str:
    """Maintain a CMS counter matrix of user_id frequencies across the
    same adversarial 4-slice out-of-order arrival order the rollup
    uses: counters from disjoint slices add element-wise, so each pass
    is read-stored + union + re-sum + overwrite of a depth×width-row
    parquet (O(1) in corpus size)."""
    from ..operators.sketch import cms_counters

    key = (spark.sparkContext.applicationId, sf_dir, "cms_users")
    path = _ROLLUP_CACHE.get(key)
    if path is not None and os.path.isdir(path):
        return path
    path = os.path.join(ephemeral_dir("rollup_maint_"), "cms_users")
    ev = load(spark, sf_dir, "events")
    for i in range(ROLLUP_SLICES):
        part = cms_counters(
            ev.filter(F.pmod(F.col("event_id"), F.lit(ROLLUP_SLICES)) == i),
            "user_id",
        )
        if os.path.isdir(path):
            merged = (
                spark.read.parquet(path)
                .unionByName(part)
                .groupBy("j", "bucket")
                .agg(F.sum("c").cast("long").alias("c"))
            )
        else:
            merged = part
        # pin before overwriting the path the plan reads from
        merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(path)
    _ROLLUP_CACHE[key] = path
    return path


def incremental_cms_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CMS counter matrix read from MATERIALIZED sketch state
    maintained incrementally over 4 out-of-order slices — the
    frequency-sketch twin of ``incremental_distinct_hourly`` (HLL
    answers distinct, CMS answers frequency; both must merge
    associatively for a streaming rollup to exist). The oracle builds
    the same counters from the full raw table in one pass, so the hash
    match proves element-wise counter addition == batch sketch, i.e.
    slice-order-independent maintenance of the frequency artifact.
    """
    path = _maintained_cms_path(spark, sf_dir)
    return spark.read.parquet(path).select(
        F.col("j").cast("int").alias("j"),
        F.col("bucket").cast("long").alias("bucket"),
        F.col("c").cast("long").alias("c"),
    )


def _incremental_cms_sql() -> str:
    from ..operators.sketch import CMS_DEPTH, CMS_WIDTH

    return f"""
WITH rows_j AS (SELECT UNNEST({list(range(CMS_DEPTH))}) AS j),
h AS (
  SELECT j.j,
         CAST(concat('0x', substr(md5(j.j || ':' || CAST(e.user_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % {CMS_WIDTH} AS bucket
  FROM events e, rows_j j
)
SELECT CAST(j AS INTEGER) AS j, CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS c
FROM h GROUP BY j, bucket
"""


INCREMENTAL_CMS_USERS_SQL = _incremental_cms_sql()


def incremental_distinct_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly distinct users per event type read from the SAME
    materialized-rollup machinery, exercising the sketch column:
    COUNT(DISTINCT) has no exact partial form, so the rollup stores a
    mergeable HLL sketch per (type, hour) and unions it across the 4
    out-of-order maintenance slices (streaming/rollup.py). At oracle
    scale the sketches sit in the exact sparse regime, so the estimate
    equals DuckDB's exact COUNT(DISTINCT) and the hash match proves
    slice-order-independent sketch maintenance end to end; beyond the
    sparse threshold the same path degrades to ~1.6% rse estimates
    (operators/sketch.py contract, tolerance-tested).
    """
    path = _maintained_rollup_path(
        spark, sf_dir, keys=["event_type"], distinct_col="user_id",
        tag="hourly_distinct",
    )
    roll = read_rollup(spark, path, ["event_type"])
    return roll.select(
        "event_type",
        "hour_ts",
        F.col("distinct_est").cast("long").alias("distinct_users"),
        F.col("n").cast("long").alias("n"),
    )


INCREMENTAL_DISTINCT_HOURLY_SQL = """
SELECT event_type, date_trunc('hour', ts) AS hour_ts,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users,
       CAST(COUNT(value) AS BIGINT) AS n
FROM events GROUP BY 1, 2
"""


# --- truncated EWMA smoothing (time-series denoising) -------------------------

EWMA_ALPHA = 0.5
EWMA_DEPTH = 8  # (1-alpha)^8 = 0.4% residual weight — negligible tail

EWMA_SAMPLE_USERS = 40  # bounded declared output; the operator itself is full-corpus


def ewma_value_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average of ``value``,
    truncated at ``EWMA_DEPTH`` lags (pandas ``ewm(adjust=True)``
    semantics over the available window): weights (1-α)^i normalized
    over the lags that exist, so the series starts exact at the first
    row instead of biased toward zero.

    The truncation is what makes this a WINDOW expression instead of a
    sequential recurrence: each output row reads its own K lags — one
    per-key window sort, no cross-row dependency chain, embarrassingly
    parallel across users at any scale (the untruncated recurrence
    would need a sequential scan per key; at depth 8 and α=0.5 the
    difference is < 0.4% of one sample's weight).
    """
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < EWMA_SAMPLE_USERS)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = F.lit(0.0)
    den = F.lit(0.0)
    for i in range(EWMA_DEPTH):
        wt = (1.0 - EWMA_ALPHA) ** i
        lag_i = F.lag("value", i).over(w)
        num = num + F.coalesce(lag_i * F.lit(wt), F.lit(0.0))
        den = den + F.when(lag_i.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
    return ev.select(
        "event_id",
        "user_id",
        F.col("ts").cast("long").alias("ts_epoch"),
        r("value", 2).alias("value"),
        r(num / den, 3).alias("ewma"),
    )


_EWMA_NUM = " + ".join(
    f"COALESCE(lag(value, {i}) OVER w * {(1.0 - EWMA_ALPHA) ** i!r}, 0.0)"
    for i in range(EWMA_DEPTH)
)
_EWMA_DEN = " + ".join(
    f"CASE WHEN lag(value, {i}) OVER w IS NOT NULL THEN {(1.0 - EWMA_ALPHA) ** i!r} ELSE 0.0 END"
    for i in range(EWMA_DEPTH)
)

EWMA_VALUE_SMOOTH_SQL = f"""
SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
       {_R2.format(x="value")} AS value,
       {_R3.format(x=f"({_EWMA_NUM}) / ({_EWMA_DEN})")} AS ewma
FROM events
WHERE user_id < {EWMA_SAMPLE_USERS}
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# --- fixed-width value histogram ----------------------------------------------

HIST_BIN_WIDTH = 25.0


VALUE_HISTOGRAM_SQL = f"""
SELECT event_type, bin_idx,
       CAST(COUNT(*) AS BIGINT) AS n,
       {_R2.format(x="MIN(value)")} AS bin_min,
       {_R2.format(x="MAX(value)")} AS bin_max,
       {_R2.format(x=f"bin_idx * {HIST_BIN_WIDTH}")} AS bin_lo
FROM (
  SELECT event_type, value,
         CAST(FLOOR(value / {HIST_BIN_WIDTH}) AS BIGINT) AS bin_idx
  FROM events
) GROUP BY 1, 2
"""


# --- seasonal-naive forecast skill --------------------------------------------

SEASON_BUCKET_S = 3600
SEASON_LAG_BUCKETS = 24  # same hour yesterday


def seasonal_naive_skill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user accuracy of the seasonal-naive baseline ("same hour
    yesterday") over the hourly mean-value series: bucket count,
    scored-bucket count, MAE and sMAPE. The no-model baseline every
    forecaster must beat — and a drift alarm when yesterday stops
    predicting today."""
    from ..operators.timegrid import seasonal_naive_forecast

    ev = load(spark, sf_dir, "events")
    fc = seasonal_naive_forecast(
        ev, "user_id", "ts", "value", SEASON_BUCKET_S, SEASON_LAG_BUCKETS
    )
    den = F.abs(F.col("actual")) + F.abs(F.col("forecast"))
    smape_term = F.when(den != 0, F.col("abs_err") * 2 / den)
    return fc.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.count("forecast").cast("long").alias("n_scored"),
        r(F.avg("abs_err"), 3).alias("mae"),
        r(F.avg(smape_term), 4).alias("smape"),
    )


_R4 = "CAST(ROUND(CAST({x} AS DECIMAL(38,9)), 4) AS DOUBLE)"

SEASONAL_NAIVE_SKILL_SQL = f"""
WITH series AS (
  SELECT user_id,
         CAST(FLOOR(epoch(ts) / {SEASON_BUCKET_S}) AS BIGINT) AS bucket,
         AVG(value) AS actual
  FROM events GROUP BY 1, 2
),
j AS (
  SELECT s.user_id, s.actual, p.actual AS forecast,
         ABS(s.actual - p.actual) AS abs_err
  FROM series s LEFT JOIN series p
    ON s.user_id = p.user_id AND p.bucket = s.bucket - {SEASON_LAG_BUCKETS}
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(COUNT(forecast) AS BIGINT) AS n_scored,
       {_R3.format(x="AVG(abs_err)")} AS mae,
       {_R4.format(x=("AVG(CASE WHEN ABS(actual) + ABS(forecast) <> 0 "
                      "THEN abs_err * 2 / (ABS(actual) + ABS(forecast)) END)"))}
         AS smape
FROM j GROUP BY user_id
"""


# --- CUSUM drift detection ----------------------------------------------------

DRIFT_H = 500.0  # decision interval on the cumulative-deviation scale


def value_drift_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CUSUM-chart drift detection: cumulative deviation from
    the user's own mean, tracked against its running extrema. A level
    shift shows up as ``drawup = C - min(C so far)`` (upward) or
    ``drawdown = max(C so far) - C`` (downward) exceeding the decision
    interval — the classic V-mask CUSUM formulation, which unlike the
    clamped recursive form is PURE WINDOW ALGEBRA: one cumsum + two
    running extrema over the same (key, time) sort, so the whole
    detector is a single shuffle at any scale (MAD outliers catch
    spikes; this catches sustained shifts they miss).

    The detection flag compares the ROUNDED statistic so both engines
    decide on identical quantities.
    """
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id")
    w_ord = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = F.sum(F.col("value") - F.avg("value").over(w_all)).over(w_ord)
    cc = ev.select("user_id", "ts", "event_id", c.alias("c")).select(
        "user_id",
        (F.col("c") - F.min("c").over(w_ord)).alias("drawup"),
        (F.max("c").over(w_ord) - F.col("c")).alias("drawdown"),
    )
    agg = cc.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_points"),
        r(F.max("drawup"), 3).alias("max_drawup"),
        r(F.max("drawdown"), 3).alias("max_drawdown"),
    )
    return agg.withColumn(
        "shift_detected",
        (F.col("max_drawup") > DRIFT_H) | (F.col("max_drawdown") > DRIFT_H),
    )


VALUE_DRIFT_CUSUM_SQL = f"""
WITH base AS (
  SELECT user_id, ts, event_id, value,
         AVG(value) OVER (PARTITION BY user_id) AS mu
  FROM events
),
c AS (
  SELECT user_id, ts, event_id, SUM(value - mu) OVER w AS c
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
d AS (
  SELECT user_id,
         c - MIN(c) OVER w AS drawup,
         MAX(c) OVER w - c AS drawdown
  FROM c
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
agg AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_points,
         {_R3.format(x="MAX(drawup)")} AS max_drawup,
         {_R3.format(x="MAX(drawdown)")} AS max_drawdown
  FROM d GROUP BY user_id
)
SELECT *, (max_drawup > {DRIFT_H} OR max_drawdown > {DRIFT_H})
         AS shift_detected
FROM agg
"""


# --- autocorrelation function (ACF) -------------------------------------------

ACF_MAX_LAG = 3


def value_acf_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type autocorrelation of the hourly-mean value series at
    lags 1..ACF_MAX_LAG — the seasonality/persistence diagnostic that
    picks window sizes for the forecast/EWMA/CUSUM family.

    Scale shape: ONE shuffle to the hourly agg (map-side partials),
    then all lags ride a single per-type window sort (lag(1..L) in the
    same window frame = one exchange + one local sort), stacked via an
    inline array explode (narrow), and corr() is a hash agg with
    map-side partials. corr ignores NULL pairs on both engines, so the
    first L rows of each series fall out identically.
    """
    events = load(spark, sf_dir, "events")
    hourly = (
        events.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("h")
        ).agg(F.avg("value").alias("v"))
    )
    w = Window.partitionBy("event_type").orderBy("h")
    lagged = hourly.select(
        "event_type",
        "v",
        *[F.lag("v", k).over(w).alias(f"l{k}") for k in range(1, ACF_MAX_LAG + 1)],
    )
    stacked = lagged.select(
        "event_type",
        "v",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("lag"),
                        F.col(f"l{k}").alias("vlag"),
                    )
                    for k in range(1, ACF_MAX_LAG + 1)
                ]
            )
        ).alias("p"),
    ).select("event_type", F.col("p.lag").alias("lag"), "v", F.col("p.vlag").alias("vlag"))
    return stacked.groupBy("event_type", "lag").agg(
        r(F.corr("v", "vlag"), 4).alias("acf"),
        F.count("vlag").cast("long").alias("n_pairs"),
    )


VALUE_ACF_BY_TYPE_SQL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, AVG(value) AS v
  FROM events GROUP BY 1, 2
),
lagged AS (
  SELECT event_type, v,
         lag(v, 1) OVER w AS l1,
         lag(v, 2) OVER w AS l2,
         lag(v, 3) OVER w AS l3
  FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY h)
),
stacked AS (
  SELECT event_type, 1 AS lag, v, l1 AS vlag FROM lagged
  UNION ALL SELECT event_type, 2, v, l2 FROM lagged
  UNION ALL SELECT event_type, 3, v, l3 FROM lagged
)
SELECT event_type, CAST(lag AS BIGINT) AS lag,
       CAST(ROUND(CAST(corr(v, vlag) AS DECIMAL(38,9)), 4) AS DOUBLE) AS acf,
       CAST(COUNT(vlag) AS BIGINT) AS n_pairs
FROM stacked
GROUP BY 1, 2
"""


# --- equi-depth histogram (ntile binning) -------------------------------------

EQUIDEPTH_BINS = 10


VALUE_EQUIDEPTH_BINS_SQL = f"""
WITH binned AS (
  SELECT event_type, value,
         ntile({EQUIDEPTH_BINS}) OVER (PARTITION BY event_type
                                       ORDER BY value, event_id) AS bin
  FROM events
)
SELECT event_type, CAST(bin AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       {_R2.format(x="MIN(value)")} AS lo,
       {_R2.format(x="MAX(value)")} AS hi,
       {_R2.format(x="AVG(value)")} AS mid
FROM binned
GROUP BY 1, 2
"""


# --- time-weighted average per key (TimescaleDB `time_weight` parity) ---------


def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of value: each reading is held
    until the next one (LOCF weighting), so irregular sampling does
    not bias the mean toward burst periods — the telemetry-correct
    mean for the reference's 1-msg/15-min nodes whenever radio
    conditions bunch packets.

    Scale shape: ONE window shuffle on user_id (lead is the only
    ordered op) then a hash agg on the same key — AQE reuses the
    partitioning, no second exchange. Weights are integer epoch
    MICROseconds: summing large positive integers keeps the float
    condition number at 1, so the distributed sum matches the serial
    oracle within the decimal(38,9) collapse.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dt = (
        F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
    ).cast("double")
    spans = ev.select(
        "user_id", "value", dt.alias("dt")
    ).where(F.col("dt").isNotNull())
    return spans.groupBy("user_id").agg(
        r(F.sum(F.col("value") * F.col("dt")) / F.sum("dt"), 4).alias(
            "twa_value"
        ),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
    )


TIME_WEIGHTED_AVG_SQL = """
WITH spans AS (
  SELECT user_id, value,
         CAST(epoch_us(LEAD(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id))
              - epoch_us(ts) AS DOUBLE) AS dt
  FROM events
)
SELECT user_id,
       CAST(ROUND(CAST(SUM(value * dt) / SUM(dt)
         AS DECIMAL(38,9)), 4) AS DOUBLE) AS twa_value,
       CAST(COUNT(*) AS BIGINT) AS n_spans
FROM spans WHERE dt IS NOT NULL
GROUP BY user_id
"""


# --- M4 chart downsampling ----------------------------------------------------

M4_BUCKET_S = 14400  # 4-hour pixel columns over the testdata month


def m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB'14): per series pixel
    bucket keep first/last/min/max of value — the four points that
    make a line chart pixel-identical to the full-resolution render.
    The scalable form of the reference's matplotlib plots
    (graphdata.py:99-192), which draw every raw row.

    Scale shape: one window shuffle on (user, bucket) for the
    first/last row-numbers, then a hash agg on the SAME key (no
    second exchange). Every output value is a SELECTION of stored
    doubles (no arithmetic), so parity needs no rounding.
    """
    ev = load(spark, sf_dir, "events")
    bucket = (F.unix_timestamp("ts") / M4_BUCKET_S).cast("long")
    rows = ev.select(
        "user_id",
        bucket.alias("bucket"),
        "ts",
        "event_id",
        "value",
    )
    w = Window.partitionBy("user_id", "bucket").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id", "bucket").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    marked = rows.select(
        "user_id",
        "bucket",
        "value",
        F.row_number().over(w).alias("_ra"),
        F.row_number().over(wd).alias("_rd"),
    )
    return marked.groupBy("user_id", "bucket").agg(
        F.max(F.when(F.col("_ra") == 1, F.col("value"))).alias("v_first"),
        F.max(F.when(F.col("_rd") == 1, F.col("value"))).alias("v_last"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
        F.count(F.lit(1)).cast("long").alias("n"),
    ).select(
        "user_id",
        (F.col("bucket") * M4_BUCKET_S).cast("long").alias("bucket_epoch"),
        "v_first",
        "v_last",
        "v_min",
        "v_max",
        "n",
    )


M4_DOWNSAMPLE_SQL = f"""
WITH rows_ AS (
  SELECT user_id,
         CAST(FLOOR(epoch(ts) / {M4_BUCKET_S}) AS BIGINT) AS bucket,
         value,
         ROW_NUMBER() OVER (PARTITION BY user_id,
                            CAST(FLOOR(epoch(ts) / {M4_BUCKET_S}) AS BIGINT)
                            ORDER BY ts, event_id) AS ra,
         ROW_NUMBER() OVER (PARTITION BY user_id,
                            CAST(FLOOR(epoch(ts) / {M4_BUCKET_S}) AS BIGINT)
                            ORDER BY ts DESC, event_id DESC) AS rd
  FROM events
)
SELECT user_id, CAST(bucket * {M4_BUCKET_S} AS BIGINT) AS bucket_epoch,
       MAX(CASE WHEN ra = 1 THEN value END) AS v_first,
       MAX(CASE WHEN rd = 1 THEN value END) AS v_last,
       MIN(value) AS v_min,
       MAX(value) AS v_max,
       CAST(COUNT(*) AS BIGINT) AS n
FROM rows_
GROUP BY user_id, bucket
"""


# --- exact two-sample KS drift per series -------------------------------------

KS_SPLIT_TS = "2024-01-16 00:00:00"  # mid-range of the testdata month
KS_BIN_W = 1.0


VALUE_KS_DRIFT_SQL = f"""
WITH g AS (
  SELECT event_type, CAST(floor(value / {KS_BIN_W}) AS BIGINT) AS bin,
         SUM(CASE WHEN ts < TIMESTAMP '{KS_SPLIT_TS}' THEN 1 ELSE 0 END) AS na,
         SUM(CASE WHEN ts < TIMESTAMP '{KS_SPLIT_TS}' THEN 0 ELSE 1 END) AS nb
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT event_type,
         SUM(na) OVER (PARTITION BY event_type ORDER BY bin) AS ca,
         SUM(nb) OVER (PARTITION BY event_type ORDER BY bin) AS cb
  FROM g
),
tot AS (
  SELECT event_type, SUM(na) AS ta, SUM(nb) AS tb FROM g GROUP BY 1
)
SELECT c.event_type,
       CAST(ROUND(CAST(MAX(ABS(c.ca / CAST(t.ta AS DOUBLE)
         - c.cb / CAST(t.tb AS DOUBLE))) AS DECIMAL(38,9)), 4) AS DOUBLE)
         AS ks_stat,
       CAST(MAX(t.ta) AS BIGINT) AS n_before,
       CAST(MAX(t.tb) AS BIGINT) AS n_after
FROM cum c JOIN tot t USING (event_type)
GROUP BY 1
"""


# --- cross-series Pearson correlation matrix ----------------------------------


TYPE_CORR_MATRIX_SQL = """
WITH hm AS (
  SELECT date_trunc('hour', ts) AS h, event_type, AVG(value) AS m
  FROM events GROUP BY 1, 2
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(ROUND(CAST(corr(a.m, b.m) AS DECIMAL(38,9)), 4) AS DOUBLE)
         AS pearson_r,
       CAST(COUNT(*) AS BIGINT) AS n_hours
FROM hm a JOIN hm b ON a.h = b.h AND a.event_type < b.event_type
GROUP BY 1, 2
"""


# --- mergeable binned-quantile sketch (continuous-aggregate quantiles) --------

QSKETCH_W = 0.25  # bin width; estimate error is bounded by one bin


def rollup_quantile_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles answered from MERGEABLE pre-aggregated state: build a
    fixed-width binned histogram sketch per event type from two
    disjoint time slices, merge the sketches (groupBy-sum — the same
    associative merge the hourly rollup uses for counts/HLL), then
    estimate p50/p95 by an interpolated CDF walk over bins. This is
    the continuous-aggregate quantile path: any time range's quantile
    comes from summing stored (key, bin, cnt) rows — no raw rescan.

    Determinism: the sketch is integer counts over fixed bins and the
    interpolation is one multiply-divide per quantile, so both engines
    produce bit-comparable estimates (unlike raw quantile_cont, whose
    interpolation point depends on engine-internal ordering).
    Definition: this estimates the LOWER empirical quantile (smallest
    value whose CDF reaches q) with uniform-within-bin smoothing —
    within one bin width of the exact discrete quantile (pytest-
    pinned); it is NOT quantile_cont, which interpolates between
    order statistics and can differ by the tail gap in sparse data.

    Scale shape: two hash aggs (map-side partials) + a per-key window
    over at most range/width rows + a min_by agg — no global sort, no
    raw-data second pass.
    """
    ev = load(spark, sf_dir, "events")
    mid = F.lit(KS_SPLIT_TS).cast("timestamp")

    def sketch(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "event_type",
            F.floor(F.col("value") / QSKETCH_W).cast("long").alias("bin"),
        ).agg(F.count(F.lit(1)).alias("cnt"))

    merged = (
        sketch(ev.filter(F.col("ts") < mid))
        .unionByName(sketch(ev.filter(F.col("ts") >= mid)))
        .groupBy("event_type", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    w = Window.partitionBy("event_type").orderBy("bin")
    cum = merged.select(
        "event_type", "bin", "cnt", F.sum("cnt").over(w).alias("cum")
    )
    tot = merged.groupBy("event_type").agg(F.sum("cnt").alias("n"))
    j = cum.join(tot, "event_type")

    def estimate(q: float, name: str) -> DataFrame:
        target = F.lit(q) * F.col("n")
        hit = (
            j.where(F.col("cum") >= target)
            .groupBy("event_type")
            .agg(
                F.expr("min_by(struct(bin, cnt, cum), bin)").alias("h"),
                F.max("n").alias("n"),
            )
        )
        est = (
            F.col("h.bin") * QSKETCH_W
            + QSKETCH_W
            * (F.lit(q) * F.col("n") - (F.col("h.cum") - F.col("h.cnt")))
            / F.col("h.cnt")
        )
        return hit.select("event_type", r(est, 4).alias(name))

    p50 = estimate(0.5, "p50_est")
    p95 = estimate(0.95, "p95_est")
    return p50.join(p95, "event_type").join(
        tot.select("event_type", F.col("n").cast("long").alias("n")),
        "event_type",
    )


ROLLUP_QUANTILE_ESTIMATE_SQL = f"""
WITH sk AS (
  SELECT event_type, bin, SUM(cnt) AS cnt FROM (
    SELECT event_type, CAST(FLOOR(value / {QSKETCH_W}) AS BIGINT) AS bin,
           COUNT(*) AS cnt
    FROM events WHERE ts < TIMESTAMP '{KS_SPLIT_TS}' GROUP BY 1, 2
    UNION ALL
    SELECT event_type, CAST(FLOOR(value / {QSKETCH_W}) AS BIGINT) AS bin,
           COUNT(*) AS cnt
    FROM events WHERE ts >= TIMESTAMP '{KS_SPLIT_TS}' GROUP BY 1, 2
  ) GROUP BY 1, 2
),
cum AS (
  SELECT event_type, bin, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum
  FROM sk
),
tot AS (SELECT event_type, SUM(cnt) AS n FROM sk GROUP BY 1),
est AS (
  SELECT c.event_type, t.n,
         min_by(struct_pack(bin := c.bin, cnt := c.cnt, cum := c.cum), c.bin)
           FILTER (WHERE c.cum >= 0.5 * t.n) AS h50,
         min_by(struct_pack(bin := c.bin, cnt := c.cnt, cum := c.cum), c.bin)
           FILTER (WHERE c.cum >= 0.95 * t.n) AS h95
  FROM cum c JOIN tot t USING (event_type)
  GROUP BY 1, 2
)
SELECT event_type,
       CAST(ROUND(CAST(h50.bin * {QSKETCH_W} + {QSKETCH_W}
         * (0.5 * n - (h50.cum - h50.cnt)) / h50.cnt
         AS DECIMAL(38,9)), 4) AS DOUBLE) AS p50_est,
       CAST(ROUND(CAST(h95.bin * {QSKETCH_W} + {QSKETCH_W}
         * (0.95 * n - (h95.cum - h95.cnt)) / h95.cnt
         AS DECIMAL(38,9)), 4) AS DOUBLE) AS p95_est,
       CAST(n AS BIGINT) AS n
FROM est
"""


# --- winsorized means (robust-stats companion of the MAD outlier gate) --------

WINSOR_LO, WINSOR_HI = 0.05, 0.95


def winsorized_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type mean before/after winsorizing values to the exact
    [p05, p95] band — the robust-mean companion to value_outliers_mad
    (which flags; this repairs).

    Parity note: the clip bounds are decimal-rounded to 2 places
    BEFORE comparing (the testdata values are 2-decimal), so the
    clipped/not-clipped decision is bit-deterministic in both engines
    — raw interpolated percentiles can differ in the last ulp, which
    would otherwise flip strict comparisons for values exactly on the
    boundary. Two hash aggs on the same key + a 5-row broadcast join.
    """
    ev = load(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        r(F.percentile("value", WINSOR_LO), 2).alias("lo"),
        r(F.percentile("value", WINSOR_HI), 2).alias("hi"),
    )
    j = ev.join(F.broadcast(bounds), "event_type")
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return j.groupBy("event_type").agg(
        r(F.avg("value"), 4).alias("avg_raw"),
        r(F.avg(clipped), 4).alias("avg_winsorized"),
        F.sum(
            F.when(
                (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_clipped"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


WINSORIZED_VALUE_STATS_SQL = f"""
WITH bounds AS (
  SELECT event_type,
         CAST(ROUND(CAST(quantile_cont(value, {WINSOR_LO})
           AS DECIMAL(38,9)), 2) AS DOUBLE) AS lo,
         CAST(ROUND(CAST(quantile_cont(value, {WINSOR_HI})
           AS DECIMAL(38,9)), 2) AS DOUBLE) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       CAST(ROUND(CAST(AVG(e.value) AS DECIMAL(38,9)), 4) AS DOUBLE)
         AS avg_raw,
       CAST(ROUND(CAST(AVG(LEAST(GREATEST(e.value, b.lo), b.hi))
         AS DECIMAL(38,9)), 4) AS DOUBLE) AS avg_winsorized,
       CAST(SUM(CASE WHEN e.value < b.lo OR e.value > b.hi
                THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events e JOIN bounds b USING (event_type)
GROUP BY e.event_type
"""


# --- weekly cohort retention (product-analytics staple) -----------------------

WEEK_S = 604800


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week,
    then counted in every later week they return.

    Scale shape: (user, week) activity is de-duplicated FIRST (one
    hash agg — the frame every later step touches is bounded by
    users x weeks, not by raw events), cohorts are a second hash agg
    on user_id, and the join back is a co-partitioned equi-join on
    user_id. Because (user, week) is already distinct and maps to
    exactly one (cohort, offset) cell, the retention count is a plain
    COUNT(*) — no expensive distinct aggregation after the join. The
    week axis is epoch seconds (tz-free, both engines agree).
    """
    ev = load(spark, sf_dir, "events")
    wk = F.unix_timestamp(F.date_trunc("week", F.col("ts"))).alias("wk")
    activity = ev.select("user_id", wk).distinct()
    first = activity.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    joined = activity.join(first, "user_id")
    offset = ((F.col("wk") - F.col("cohort_wk")) / WEEK_S).cast("int")
    ret = joined.groupBy(
        "cohort_wk", offset.alias("week_offset")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    sizes = first.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    return ret.join(sizes, "cohort_wk").select(
        F.col("cohort_wk").cast("long").alias("cohort_wk_epoch"),
        "week_offset",
        "n_active",
        "cohort_size",
        r(F.col("n_active") / F.col("cohort_size"), 4).alias("retention_rate"),
    )


COHORT_RETENTION_SQL = f"""
WITH activity AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(date_trunc('week', ts))) AS BIGINT) AS wk
  FROM events
),
first AS (
  SELECT user_id, MIN(wk) AS cohort_wk FROM activity GROUP BY user_id
),
j AS (
  SELECT f.cohort_wk,
         CAST((a.wk - f.cohort_wk) / {WEEK_S} AS INT) AS week_offset
  FROM activity a JOIN first f USING (user_id)
),
ret AS (
  SELECT cohort_wk, week_offset, CAST(COUNT(*) AS BIGINT) AS n_active
  FROM j GROUP BY 1, 2
),
sizes AS (
  SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS cohort_size
  FROM first GROUP BY 1
)
SELECT r.cohort_wk AS cohort_wk_epoch, r.week_offset, r.n_active,
       s.cohort_size,
       CAST(ROUND(CAST(r.n_active / CAST(s.cohort_size AS DOUBLE)
         AS DECIMAL(38,9)), 4) AS DOUBLE) AS retention_rate
FROM ret r JOIN sizes s USING (cohort_wk)
"""


# --- event-type transition matrix (first-order Markov counts) -----------------


EVENT_TRANSITION_MATRIX_SQL = """
WITH pairs AS (
  SELECT user_id, event_type AS next_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
),
counts AS (
  SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
totals AS (
  SELECT prev_type, CAST(SUM(n) AS BIGINT) AS n_from
  FROM counts GROUP BY 1
)
SELECT c.prev_type, c.next_type, c.n,
       CAST(ROUND(CAST(c.n / CAST(t.n_from AS DOUBLE)
         AS DECIMAL(38,9)), 4) AS DOUBLE) AS p
FROM counts c JOIN totals t USING (prev_type)
"""


DECOMP_HALF_WIN = 12  # 25-point centered MA over the hourly series


_DECOMP_CTES = f"""hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_ts, AVG(value) AS v
  FROM events GROUP BY 1, 2
),
with_trend AS (
  SELECT event_type, hour_ts, v,
         CASE WHEN COUNT(*) OVER w = {2 * DECOMP_HALF_WIN + 1}
              THEN AVG(v) OVER w END AS trend
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour_ts
               ROWS BETWEEN {DECOMP_HALF_WIN} PRECEDING
                        AND {DECOMP_HALF_WIN} FOLLOWING)
),
seasonal AS (
  SELECT event_type, hour(hour_ts) AS hod, AVG(v - trend) AS seasonal
  FROM with_trend GROUP BY 1, 2
)"""

SEASONAL_DECOMPOSITION_SQL = f"""
WITH {_DECOMP_CTES}
SELECT /*+ BROADCAST(s) */ t.event_type,
       CAST(t.hour_ts AS TIMESTAMP) AS hour_ts,
       {_R4.format(x="t.v")} AS value,
       {_R4.format(x="t.trend")} AS trend,
       {_R4.format(x="s.seasonal")} AS seasonal,
       {_R4.format(x="t.v - t.trend - s.seasonal")} AS resid
FROM with_trend t
JOIN seasonal s ON t.event_type = s.event_type AND hour(t.hour_ts) = s.hod
"""

SEASONAL_ANOMALY_FLAGS_SQL = f"""
WITH {_DECOMP_CTES},
d AS (
  SELECT /*+ BROADCAST(s) */ t.event_type, t.hour_ts, t.v,
         t.v - t.trend - s.seasonal AS resid
  FROM with_trend t
  JOIN seasonal s ON t.event_type = s.event_type AND hour(t.hour_ts) = s.hod
  WHERE t.v - t.trend - s.seasonal IS NOT NULL
),
med AS (SELECT event_type, median(resid) AS med FROM d GROUP BY 1),
mad AS (
  SELECT /*+ BROADCAST(m) */ d.event_type, median(abs(d.resid - m.med)) AS mad
  FROM d JOIN med m USING (event_type) GROUP BY 1
)
SELECT event_type, CAST(hour_ts AS TIMESTAMP) AS hour_ts, value, resid, robust_z
FROM (
  SELECT /*+ BROADCAST(m, x) */ d.event_type, d.hour_ts,
         {_R4.format(x="d.v")} AS value,
         {_R4.format(x="d.resid")} AS resid,
         {_R3.format(x=f"{MAD_CONSISTENCY} * (d.resid - m.med) / x.mad")} AS robust_z
  FROM d JOIN med m USING (event_type) JOIN mad x USING (event_type)
  WHERE x.mad > 0
)
WHERE abs(robust_z) > {MAD_Z_THRESHOLD}
"""


# --- A/B experiment analysis (Welch's unequal-variance t-test) ----------------

# Deterministic 50/50 assignment from md5(user_id) so both engines
# produce the identical experiment split without RNG coordination —
# the same derandomization used by the quota/mix/DSIR samplers.


def ab_welch_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type A/B comparison of ``value`` under a deterministic
    hash split of users: Welch's unequal-variance t statistic and
    Welch–Satterthwaite degrees of freedom — the experimentation
    readout an analytics engine runs over raw event logs.

    Scale shape: ONE hash aggregation over events (map-side partials;
    conditional count/avg/var_samp per arm share the pass), then
    narrow per-row algebra over |event_type| rows. No window, no join,
    no second scan. The variance enters only through ratios, so the
    cross-engine summation-order noise (~1e-12 relative) is absorbed
    by the 4-decimal rounding.
    """
    ev = load(spark, sf_dir, "events")
    variant = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 2
    )
    va = F.when(variant == 0, F.col("value"))
    vb = F.when(variant == 1, F.col("value"))
    g = ev.groupBy("event_type").agg(
        F.count(va).alias("cnt_a"),
        F.count(vb).alias("cnt_b"),
        F.avg(va).alias("m_a"),
        F.avg(vb).alias("m_b"),
        F.var_samp(va).alias("v_a"),
        F.var_samp(vb).alias("v_b"),
    )
    sa = F.col("v_a") / F.col("cnt_a")
    sb = F.col("v_b") / F.col("cnt_b")
    t = (F.col("m_b") - F.col("m_a")) / F.sqrt(sa + sb)
    dof = ((sa + sb) * (sa + sb)) / (
        (sa * sa) / (F.col("cnt_a") - 1) + (sb * sb) / (F.col("cnt_b") - 1)
    )
    return g.select(
        "event_type",
        F.col("cnt_a").cast("long").alias("n_a"),
        F.col("cnt_b").cast("long").alias("n_b"),
        r("m_a", 4).alias("mean_a"),
        r("m_b", 4).alias("mean_b"),
        r(t, 4).alias("welch_t"),
        r(dof, 2).alias("welch_df"),
    )


AB_WELCH_TEST_SQL = """
WITH t AS (
  SELECT event_type, value,
         CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
              AS UBIGINT) % 2 AS BIGINT) AS variant
  FROM events
),
g AS (
  SELECT event_type,
         COUNT(CASE WHEN variant = 0 THEN value END) AS cnt_a,
         COUNT(CASE WHEN variant = 1 THEN value END) AS cnt_b,
         AVG(CASE WHEN variant = 0 THEN value END) AS m_a,
         AVG(CASE WHEN variant = 1 THEN value END) AS m_b,
         VAR_SAMP(CASE WHEN variant = 0 THEN value END) AS v_a,
         VAR_SAMP(CASE WHEN variant = 1 THEN value END) AS v_b
  FROM t GROUP BY 1
)
SELECT event_type,
       CAST(cnt_a AS BIGINT) AS n_a,
       CAST(cnt_b AS BIGINT) AS n_b,
       CAST(ROUND(CAST(m_a AS DECIMAL(38,9)), 4) AS DOUBLE) AS mean_a,
       CAST(ROUND(CAST(m_b AS DECIMAL(38,9)), 4) AS DOUBLE) AS mean_b,
       CAST(ROUND(CAST(
         (m_b - m_a) / sqrt(v_a / cnt_a + v_b / cnt_b)
       AS DECIMAL(38,9)), 4) AS DOUBLE) AS welch_t,
       CAST(ROUND(CAST(
         ((v_a / cnt_a + v_b / cnt_b) * (v_a / cnt_a + v_b / cnt_b))
         / ((v_a / cnt_a) * (v_a / cnt_a) / (cnt_a - 1)
            + (v_b / cnt_b) * (v_b / cnt_b) / (cnt_b - 1))
       AS DECIMAL(38,9)), 2) AS DOUBLE) AS welch_df
FROM g
"""


# --- bootstrap confidence interval (Bayesian bootstrap, Rubin 1981) -----------

BOOT_B = 48  # resamples; exchange stays bounded at |event_type| x B rows


def bootstrap_value_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap standard error and 95% CI for each event type's mean
    ``value`` — uncertainty quantification computed IN the engine, in
    one distributed pass, instead of driver-side resampling.

    Bayesian bootstrap (Rubin 1981): resample b reweights every row by
    an Exp(1) draw; the resample mean is sum(w·x)/sum(w). The draws
    are derandomized — u from md5(event_id·B + b) top-8-hex (the
    proven Gumbel-sampler construction), w = -ln(u) — so both engines
    reproduce the exact same resamples with no RNG state.

    Scale shape: the ×B explode is map-side only — it feeds straight
    into a (type, b) hash aggregation whose partials combine before
    the exchange, so the shuffle carries |event_type|·B rows no matter
    the corpus size; the final per-type pass runs over B-row groups.
    B is the single cost knob (CPU scales linearly with it). The
    explode runs over a PLAIN int sequence and the weight is computed
    per exploded row: building the B weights as an array expression
    under posexplode re-inlines the whole array into every generated
    row (the documented generator-re-inline trap) — measured 10× on
    exactly this query.

    Hash economy: one md5 digest is 32 hex chars = four independent
    u32 draws, so the explode is two-level — j over B/4 digests
    (md5 materialized in the projection below the second Generate,
    so it is an attribute, not a re-inlined expression, afterwards),
    then k over the digest's four 8-hex windows. md5 is the dominant
    per-row cost; this quarters it (measured 3.5 s → ~1.3 s at sf0.1).
    """
    # Pre-explode fan-out: the B× amplified md5 work happens map-side
    # (before the partial agg), so it inherits the SCAN's parallelism —
    # a small-SF scan is one file-split = one core doing 48× the rows.
    ev = fan_out(load(spark, sf_dir, "events"))
    n_digests = BOOT_B // 4
    e = ev.select(
        "event_type",
        "value",
        "event_id",
        F.explode(F.sequence(F.lit(0), F.lit(n_digests - 1))).alias("j"),
    )
    e = e.select(
        "event_type",
        "value",
        "j",
        F.md5((F.col("event_id") * n_digests + F.col("j")).cast("string")).alias("m"),
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("k"),
    )
    b = F.col("j") * 4 + F.col("k")
    h = F.conv(
        F.col("m").substr(F.col("k") * 8 + 1, F.lit(8)), 16, 10
    ).cast("long")
    u = (h + F.lit(0.5)) / F.lit(float(2**32))
    w = -F.log(u)
    g = (
        e.select("event_type", b.alias("b"), "value", w.alias("w"))
        .groupBy("event_type", "b")
        .agg(
            F.sum(F.col("w") * F.col("value")).alias("swv"),
            F.sum("w").alias("sw"),
            F.sum("value").alias("sv"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    per = g.select("event_type", (F.col("swv") / F.col("sw")).alias("mb"), "sv", "n")
    out = per.groupBy("event_type").agg(
        F.avg("mb").alias("boot_mean"),
        F.stddev_samp("mb").alias("boot_se"),
        (F.sum("sv") / F.sum("n")).alias("raw_mean"),
        (F.sum("n") / BOOT_B).cast("long").alias("n_rows"),
    )
    return out.select(
        "event_type",
        "n_rows",
        r("raw_mean", 4).alias("raw_mean"),
        r("boot_mean", 4).alias("boot_mean"),
        r("boot_se", 4).alias("boot_se"),
        r(F.col("boot_mean") - 1.96 * F.col("boot_se"), 4).alias("ci_lo"),
        r(F.col("boot_mean") + 1.96 * F.col("boot_se"), 4).alias("ci_hi"),
    )


BOOTSTRAP_VALUE_CI_SQL = f"""
WITH e AS (
  SELECT event_type, value,
         md5(CAST(event_id * {BOOT_B // 4} + j AS VARCHAR)) AS m, j
  FROM events, UNNEST(range(0, {BOOT_B // 4})) AS rj(j)
),
wtd AS (
  SELECT event_type, j * 4 + k AS b, value,
         -ln((CAST(CAST(concat('0x', substr(m, 1 + 8 * k, 8))
            AS UBIGINT) AS DOUBLE) + 0.5) / 4294967296.0) AS w
  FROM e, UNNEST(range(0, 4)) AS rk(k)
),
g AS (
  SELECT event_type, b,
         SUM(w * value) AS swv, SUM(w) AS sw,
         SUM(value) AS sv, COUNT(*) AS n
  FROM wtd GROUP BY 1, 2
),
per AS (
  SELECT event_type, swv / sw AS mb, sv, n FROM g
),
o AS (
  SELECT event_type,
         AVG(mb) AS boot_mean,
         STDDEV_SAMP(mb) AS boot_se,
         SUM(sv) / SUM(n) AS raw_mean,
         CAST(SUM(n) / {BOOT_B} AS BIGINT) AS n_rows
  FROM per GROUP BY 1
)
SELECT event_type, n_rows,
       CAST(ROUND(CAST(raw_mean AS DECIMAL(38,9)), 4) AS DOUBLE) AS raw_mean,
       CAST(ROUND(CAST(boot_mean AS DECIMAL(38,9)), 4) AS DOUBLE) AS boot_mean,
       CAST(ROUND(CAST(boot_se AS DECIMAL(38,9)), 4) AS DOUBLE) AS boot_se,
       CAST(ROUND(CAST(boot_mean - 1.96 * boot_se AS DECIMAL(38,9)), 4)
            AS DOUBLE) AS ci_lo,
       CAST(ROUND(CAST(boot_mean + 1.96 * boot_se AS DECIMAL(38,9)), 4)
            AS DOUBLE) AS ci_hi
FROM o
"""


# --- linear (multi-touch) attribution ------------------------------------------

ATTRIB_LOOKBACK_SEC = 7 * 24 * 3600


def linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value is split
    EQUALLY across every preceding touch ('view'/'click') by the same
    user within a 7-day lookback — the credit model last-touch can't
    express (`last_touch_attribution` is the single-touch dual).

    Scale shape: purchases and touches are two prunes of one scan,
    equi-joined on user_id with the time range as a residual filter
    (per-user bounded fan-out, never a time-grid nested loop); the
    per-purchase touch count comes from a window KEYED by purchase
    event_id over the join result, and the final credit rollup is a
    |touch_type|-wide hash agg.
    """
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    t = ev.filter(F.col("event_type").isin(*ATTRIB_TOUCH_TYPES)).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("touch_type"),
    )
    j = p.join(
        t,
        (F.col("p_user") == F.col("t_user"))
        & (F.col("t_ts") <= F.col("p_ts"))
        & (
            F.col("t_ts").cast("long")
            > F.col("p_ts").cast("long") - ATTRIB_LOOKBACK_SEC
        ),
    )
    k = F.count(F.lit(1)).over(Window.partitionBy("p_id"))
    credited = j.select(
        "touch_type", (F.col("p_value") / k).alias("credit")
    )
    return credited.groupBy("touch_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_credited_touches"),
        r(F.sum("credit"), 2).alias("attributed_value"),
    )


LINEAR_ATTRIBUTION_SQL = f"""
WITH p AS (
  SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts, value AS p_value
  FROM events WHERE event_type = 'purchase'
),
t AS (
  SELECT user_id AS t_user, ts AS t_ts, event_type AS touch_type
  FROM events WHERE event_type IN ({_TOUCH_IN})
),
j AS (
  SELECT p.p_id, p.p_value, t.touch_type,
         COUNT(*) OVER (PARTITION BY p.p_id) AS k
  FROM p JOIN t ON p.p_user = t.t_user
   AND t.t_ts <= p.p_ts
   AND FLOOR(epoch(t.t_ts)) > FLOOR(epoch(p.p_ts)) - {ATTRIB_LOOKBACK_SEC}
)
SELECT touch_type,
       CAST(COUNT(*) AS BIGINT) AS n_credited_touches,
       {_R2.format(x="SUM(p_value / k)")} AS attributed_value
FROM j
GROUP BY 1
"""


# --- DAU / WAU stickiness -------------------------------------------------------


def dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users, 7-day-window active users (window ENDING
    each day), and the DAU/WAU stickiness ratio — the rolling COUNT
    DISTINCT that naive range windows can't do distributively.

    Scale shape: ONE scan — each event fans out to the 7 window-end
    days it contributes to (constant ×7, with a k=0 marker recording
    "active on the day itself"), a (day, user) hash agg collapses the
    fan-out (map-side partials do the dedup work before the exchange,
    so the shuffle carries ~7× users×days, never 7× raw events), and
    the final day-keyed agg counts WAU as group size and DAU as the
    marker sum. Days with a window but no same-day activity are
    dropped (dau > 0 = the day actually occurs in the data). No join,
    no window function, no second scan — the mergeable formulation.
    """
    ev = load(spark, sf_dir, "events")
    fan = ev.select(
        "user_id",
        F.to_date("ts").alias("d"),
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("k"),
    ).select(
        "user_id",
        F.date_add(F.col("d"), F.col("k")).alias("dw"),
        (F.col("k") == 0).cast("int").alias("is_day"),
    )
    g = fan.groupBy("dw", "user_id").agg(F.max("is_day").alias("active_today"))
    return (
        g.groupBy("dw")
        .agg(
            F.sum("active_today").cast("long").alias("dau"),
            F.count(F.lit(1)).cast("long").alias("wau"),
        )
        .filter(F.col("dau") > 0)
        .select(
            F.col("dw").alias("d"),
            "dau",
            "wau",
            r(F.col("dau").cast("double") * 100.0 / F.col("wau"), 4).alias(
                "stickiness_pct"
            ),
        )
    )


DAU_WAU_STICKINESS_SQL = """
WITH fan AS (
  SELECT user_id,
         CAST(ts AS DATE) + CAST(k AS INTEGER) AS dw,
         CASE WHEN k = 0 THEN 1 ELSE 0 END AS is_day
  FROM events, UNNEST(range(0, 7)) AS rk(k)
),
g AS (
  SELECT dw, user_id, MAX(is_day) AS active_today FROM fan GROUP BY 1, 2
),
o AS (
  SELECT dw, CAST(SUM(active_today) AS BIGINT) AS dau,
         CAST(COUNT(*) AS BIGINT) AS wau
  FROM g GROUP BY 1
)
SELECT dw AS d, dau, wau,
       CAST(ROUND(CAST(CAST(dau AS DOUBLE) * 100.0 / wau
            AS DECIMAL(38,9)), 4) AS DOUBLE) AS stickiness_pct
FROM o WHERE dau > 0
"""


# --- Pareto coverage (smallest user prefix covering 80% of events) -------------

PARETO_TARGET_PCT = 80


def pareto_user_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The smallest set of users (heaviest first) that covers
    ``PARETO_TARGET_PCT``% of all events, with each user's rank and
    running coverage — the who-is-80%-of-my-traffic question.

    Scale shape: events collapse to per-user counts first; the global
    (rank, running sum) then comes from the partition-offset prefix
    machine (operators/ordered.py::global_rank_cumsum) — one range
    shuffle on (n_events desc, user_id), per-partition sums prefix into
    offsets, and a zero-shuffle Arrow pass carries the int64
    accumulator through each partition in order. No unpartitioned
    window: the per-user dimension grows with the data (the r4
    verdict's de-globalization item). int64 cumsum is exact, so the
    values are bit-identical to the serial SQL window; the grand total
    is the last offset (a driver literal — no second scan), and the
    prefix filter uses integer arithmetic (cum×10 < total×8 keeps the
    crossing row) so no float boundary can diverge between engines.
    """
    ev = load(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    ranked, total = global_rank_cumsum(
        per,
        [F.col("n_events").desc(), F.col("user_id").asc()],
        "n_events",
        rank_col="user_rank",
        cum_col="cum",
    )
    return ranked.filter(
        (F.col("cum") - F.col("n_events")) * 10
        < F.lit(total) * (PARETO_TARGET_PCT // 10)
    ).select(
        F.col("user_rank").cast("long").alias("user_rank"),
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        r(F.col("cum").cast("double") * 100.0 / F.lit(total), 4).alias(
            "cum_pct"
        ),
    )


PARETO_USER_SHARE_SQL = f"""
WITH per AS (
  SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY 1
),
rk AS (
  SELECT user_id, n_events,
         ROW_NUMBER() OVER (ORDER BY n_events DESC, user_id) AS user_rank,
         SUM(n_events) OVER (ORDER BY n_events DESC, user_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(n_events) OVER () AS _total
  FROM per
)
SELECT CAST(user_rank AS BIGINT) AS user_rank, user_id,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(ROUND(CAST(CAST(cum AS DOUBLE) * 100.0 / _total
            AS DECIMAL(38,9)), 4) AS DOUBLE) AS cum_pct
FROM rk
WHERE (cum - n_events) * 10 < _total * {PARETO_TARGET_PCT // 10}
"""


# --- chi-squared independence test (type x hour-of-day) ------------------------


def type_hour_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-squared test of independence between event_type and
    hour-of-day: one row with the statistic, degrees of freedom and
    grid size — the is-my-traffic-mix-time-of-day-dependent check.

    Scale shape: ONE hash agg to the |types|×24 contingency cells,
    MATERIALIZED so the marginals/total branches re-aggregate the
    bounded grid instead of re-running the events scan per consumer
    (four consumers = four full scans without the checkpoint); joins
    back are broadcast. The chi2 sum runs over ≤ types×24 DOUBLE
    cells, so the 4-decimal rounding absorbs summation-order noise.
    """
    ev = load(spark, sf_dir, "events")
    cells = materialize(
        ev.groupBy("event_type", F.hour("ts").alias("hod")).agg(
            F.count(F.lit(1)).alias("o")
        )
    )
    rowt = cells.groupBy("event_type").agg(F.sum("o").alias("rt"))
    colt = cells.groupBy("hod").agg(F.sum("o").alias("ct"))
    tot = cells.agg(F.sum("o").alias("_n"))
    exp = (
        cells.join(F.broadcast(rowt), "event_type")
        .join(F.broadcast(colt), "hod")
        .join(F.broadcast(tot))
        .select(
            "event_type",
            "hod",
            "o",
            (
                F.col("rt").cast("double")
                * F.col("ct")
                / F.col("_n")
            ).alias("e"),
        )
    )
    contrib = (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
    return exp.agg(
        r(F.sum(contrib), 4).alias("chi2"),
        (
            (F.countDistinct("event_type") - 1)
            * (F.countDistinct("hod") - 1)
        ).cast("long").alias("dof"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("o").cast("long").alias("n_events"),
    )


TYPE_HOUR_CHI2_SQL = """
WITH cells AS (
  SELECT event_type, EXTRACT(hour FROM ts) AS hod, COUNT(*) AS o
  FROM events GROUP BY 1, 2
),
rowt AS (SELECT event_type, SUM(o) AS rt FROM cells GROUP BY 1),
colt AS (SELECT hod, SUM(o) AS ct FROM cells GROUP BY 1),
tot AS (SELECT SUM(o) AS _n FROM cells),
e AS (
  SELECT c.event_type, c.hod, c.o,
         CAST(rowt.rt AS DOUBLE) * colt.ct / tot._n AS e
  FROM cells c
  JOIN rowt USING (event_type)
  JOIN colt USING (hod)
  CROSS JOIN tot
)
SELECT CAST(ROUND(CAST(SUM((o - e) * (o - e) / e) AS DECIMAL(38,9)), 4)
            AS DOUBLE) AS chi2,
       CAST((COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT hod) - 1)
            AS BIGINT) AS dof,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(o) AS BIGINT) AS n_events
FROM e
"""


# --- Mann-Whitney U (rank-based A/B test) ---------------------------------------


def mannwhitney_value_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Mann–Whitney U between the same deterministic
    md5 50/50 user arms as ``ab_welch_test`` — the rank-based
    (outlier-robust) counterpart. Reports U per arm and the
    normal-approximation z (no tie correction: midranks make U exact
    under ties; the documented z is the classic large-sample form).

    Scale shape: midranks need one value sort per event_type — a
    KEYED window (same class as value_equidepth_bins' exact-order
    pass), never a global sort; everything after is one hash agg per
    type plus narrow algebra. Ties get the standard midrank via
    rank() + (tie_count-1)/2, identical in both engines.
    """
    ev = load(spark, sf_dir, "events")
    variant = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 2
    )
    wv = Window.partitionBy("event_type").orderBy("value")
    wt = Window.partitionBy("event_type", "value")
    ranked = ev.select(
        "event_type",
        variant.alias("arm"),
        (
            F.rank().over(wv)
            + (F.count(F.lit(1)).over(wt) - 1) / 2.0
        ).alias("midrank"),
    )
    g = ranked.groupBy("event_type").agg(
        F.count(F.when(F.col("arm") == 0, 1)).alias("n_a"),
        F.count(F.when(F.col("arm") == 1, 1)).alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("midrank"))).alias("ra"),
    )
    u_a = F.col("ra") - F.col("n_a") * (F.col("n_a") + 1) / 2.0
    u_b = F.col("n_a") * F.col("n_b") - u_a
    mu = F.col("n_a") * F.col("n_b") / 2.0
    sigma = F.sqrt(
        F.col("n_a")
        * F.col("n_b")
        * (F.col("n_a") + F.col("n_b") + 1)
        / 12.0
    )
    return g.select(
        "event_type",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        r(u_a, 2).alias("u_a"),
        r(u_b, 2).alias("u_b"),
        r((u_a - mu) / sigma, 4).alias("mw_z"),
    )


MANNWHITNEY_VALUE_TEST_SQL = """
WITH ranked AS (
  SELECT event_type,
         CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
              AS UBIGINT) % 2 AS BIGINT) AS arm,
         RANK() OVER (PARTITION BY event_type ORDER BY value)
           + (COUNT(*) OVER (PARTITION BY event_type, value) - 1) / 2.0
           AS midrank
  FROM events
),
g AS (
  SELECT event_type,
         COUNT(CASE WHEN arm = 0 THEN 1 END) AS n_a,
         COUNT(CASE WHEN arm = 1 THEN 1 END) AS n_b,
         SUM(CASE WHEN arm = 0 THEN midrank END) AS ra
  FROM ranked GROUP BY 1
)
SELECT event_type,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(ROUND(CAST(ra - n_a * (n_a + 1) / 2.0 AS DECIMAL(38,9)), 2)
            AS DOUBLE) AS u_a,
       CAST(ROUND(CAST(n_a * n_b - (ra - n_a * (n_a + 1) / 2.0)
            AS DECIMAL(38,9)), 2) AS DOUBLE) AS u_b,
       CAST(ROUND(CAST(
         ((ra - n_a * (n_a + 1) / 2.0) - n_a * n_b / 2.0)
         / sqrt(n_a * n_b * (n_a + n_b + 1) / 12.0)
       AS DECIMAL(38,9)), 4) AS DOUBLE) AS mw_z
FROM g
"""


# --- RFM segmentation -----------------------------------------------------------


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile segmentation —
    the classic customer-base cut: quartile each user on days since
    last activity, event count, and purchase value, then roll up the
    4×4×4 segment grid.

    Scale shape: ONE scan collapses events to per-user (last_ts, n,
    monetary). The three quartile assignments then use the
    partition-offset NTILE (operators/ordered.py::global_ntile — the
    line_numbering plan generalized): each metric costs one range
    shuffle of the slim per-user frame and a NARROW rank projection,
    never an unpartitioned window — the per-user dimension itself is
    billions of rows at 100 TB, too big for one task (the r4 verdict's
    de-globalization item). The recency reference (max last_sec over
    all users) falls out of the first pass's per-partition aggregates
    as a driver-side literal — no extra job, no 1-row exchange. NTILE
    semantics are preserved exactly (tile = f(rank, total)), so the
    oracle keeps its plain NTILE formulation; the final agg is ≤64
    segments wide.

    The three chained passes each pin their OWN localCheckpoint — this
    is irreducible, not waste: NTILE needs a total order, and the three
    orders (recency, frequency, monetary) range-partition differently,
    so no ranged layout can serve two of them. Each materialization is
    the slim per-user frame (≤7 narrow columns), never the event scan;
    see ranged_frame's docstring for the executor-loss trade-off of
    localCheckpoint vs a reliable checkpoint dir in production.
    """
    ev = load(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.max(F.col("ts").cast("long")).alias("last_sec"),
        F.count(F.lit(1)).alias("freq"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))),
            F.lit(0.0),
        ).alias("monetary"),
    )
    # NTILE on recency: most recent = highest last_sec = tile 1 under
    # DESC order; invert to make 4 = best.
    t_r, rows = global_ntile(
        per,
        [F.col("last_sec").desc(), F.col("user_id").asc()],
        4,
        "_tr",
        extra_aggs=[F.max("last_sec").alias("_mx")],
    )
    max_sec = max(row["_mx"] for row in rows)
    t_f, _ = global_ntile(
        t_r, [F.col("freq").asc(), F.col("user_id").asc()], 4, "f"
    )
    t_m, _ = global_ntile(
        t_f, [F.col("monetary").asc(), F.col("user_id").asc()], 4, "m"
    )
    scored = t_m.select(
        "user_id",
        ((F.lit(max_sec) - F.col("last_sec")) / 86400.0).alias("recency_days"),
        "freq",
        "monetary",
        (5 - F.col("_tr")).alias("r"),
        "f",
        "m",
    )
    return (
        scored.groupBy(
            F.concat_ws(
                "",
                F.col("r").cast("string"),
                F.col("f").cast("string"),
                F.col("m").cast("string"),
            ).alias("rfm_segment")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            r(F.avg("recency_days"), 4).alias("avg_recency_days"),
            r(F.avg("freq"), 2).alias("avg_freq"),
            r(F.avg("monetary"), 2).alias("avg_monetary"),
        )
    )


RFM_SEGMENTS_SQL = """
WITH per AS (
  SELECT user_id,
         MAX(FLOOR(epoch(ts))) AS last_sec,
         COUNT(*) AS freq,
         COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN value END),
                  0.0) AS monetary
  FROM events GROUP BY 1
),
scored AS (
  SELECT user_id,
         -- force DOUBLE before dividing: the bare 86400.0 literal
         -- routes DuckDB through DECIMAL arithmetic while Spark
         -- computes long/double (the r3-ADVICE divide-literal rule)
         CAST(MAX(last_sec) OVER () - last_sec AS DOUBLE) / 86400.0
           AS recency_days,
         freq, monetary,
         5 - NTILE(4) OVER (ORDER BY last_sec DESC, user_id) AS r,
         NTILE(4) OVER (ORDER BY freq, user_id) AS f,
         NTILE(4) OVER (ORDER BY monetary, user_id) AS m
  FROM per
)
SELECT concat(CAST(r AS VARCHAR), CAST(f AS VARCHAR), CAST(m AS VARCHAR))
         AS rfm_segment,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(ROUND(CAST(AVG(recency_days) AS DECIMAL(38,9)), 4) AS DOUBLE)
         AS avg_recency_days,
       CAST(ROUND(CAST(AVG(freq) AS DECIMAL(38,9)), 2) AS DOUBLE)
         AS avg_freq,
       CAST(ROUND(CAST(AVG(monetary) AS DECIMAL(38,9)), 2) AS DOUBLE)
         AS avg_monetary
FROM scored GROUP BY 1
"""


# --- conversion latency (time-to-convert distribution) -------------------------


def conversion_latency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of time-to-convert: for every user, seconds from
    their FIRST 'view' to their first 'purchase' after it — the
    latency dual of `funnel_conversion` (which only counts who
    converts, not how fast).

    Scale shape: ONE user-keyed window carries the running
    first-view timestamp (the LOCF idiom), the purchase filter prunes
    to candidate conversions, a per-user agg takes the earliest, and
    the final percentiles run over |users| aggregated rows in a single
    reduce. Ties at identical timestamps break on event_id.
    """
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fv = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    conv = (
        ev.select("user_id", "ts", "event_type", fv.alias("fv"))
        .filter((F.col("event_type") == "purchase") & F.col("fv").isNotNull())
        .groupBy("user_id")
        .agg(
            F.min(F.col("ts").cast("long") - F.col("fv").cast("long")).alias(
                "lat_sec"
            )
        )
    )
    return conv.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        r(F.avg("lat_sec"), 2).alias("avg_sec"),
        r(F.median("lat_sec"), 2).alias("p50_sec"),
        r(F.percentile("lat_sec", 0.9), 2).alias("p90_sec"),
        F.min("lat_sec").cast("long").alias("min_sec"),
        F.max("lat_sec").cast("long").alias("max_sec"),
    )


CONVERSION_LATENCY_STATS_SQL = """
WITH w AS (
  SELECT user_id, ts, event_type,
         MIN(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv
  FROM events
),
conv AS (
  SELECT user_id,
         MIN(FLOOR(epoch(ts)) - FLOOR(epoch(fv))) AS lat_sec
  FROM w
  WHERE event_type = 'purchase' AND fv IS NOT NULL
  GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
       CAST(ROUND(CAST(AVG(lat_sec) AS DECIMAL(38,9)), 2) AS DOUBLE)
         AS avg_sec,
       CAST(ROUND(CAST(quantile_cont(lat_sec, 0.5) AS DECIMAL(38,9)), 2)
            AS DOUBLE) AS p50_sec,
       CAST(ROUND(CAST(quantile_cont(lat_sec, 0.9) AS DECIMAL(38,9)), 2)
            AS DOUBLE) AS p90_sec,
       CAST(MIN(lat_sec) AS BIGINT) AS min_sec,
       CAST(MAX(lat_sec) AS BIGINT) AS max_sec
FROM conv
"""


# --- top session paths (higher-order journey analysis) -------------------------

PATH_GAP_SEC = 1800
PATH_LEN = 3
PATH_TOPK = 15


def top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common user journeys: the first ``PATH_LEN`` event types of
    every session (30-min inactivity gap), joined with '>' and counted
    — the higher-order sequel to `event_transition_matrix` (first-order
    Markov can't distinguish view>click>purchase from click>view>
    purchase).

    Scale shape: sessionization and the in-session row_number share ONE
    user-keyed sort exchange; the path string is assembled per session
    from at most ``PATH_LEN`` collected rows (rn-filtered BEFORE the
    collect, so no session, however long, ships more than 3 rows); the
    final count is |distinct paths| wide with a TakeOrdered top-k.
    Ties at identical timestamps break on event_id in both engines.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    s = sessionize(ev, "user_id", "ts", PATH_GAP_SEC)
    w = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    first_n = s.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= PATH_LEN
    )
    paths = first_n.groupBy("user_id", "session_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda x: x["event_type"],
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(PATH_TOPK)
    )


TOP_SESSION_PATHS_SQL = f"""
WITH o AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              OR FLOOR(epoch(ts)) - FLOOR(epoch(
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                 )) > {PATH_GAP_SEC}
              THEN 1 ELSE 0 END AS ns
  FROM events
),
s AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM o
),
fn AS (
  SELECT user_id, session_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                            ORDER BY ts, event_id) AS rn
  FROM s
),
p AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY rn) AS path
  FROM fn WHERE rn <= {PATH_LEN}
  GROUP BY 1, 2
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM p GROUP BY 1
ORDER BY n_sessions DESC, path
LIMIT {PATH_TOPK}
"""


# --- per-key time-window debounce ------------------------------------------------

DEBOUNCE_GAP_S = 60


def debounced_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce: drop an event arriving within {gap}s of the PREVIOUS
    event of the same (user, type) — the standard duplicate-burst
    filter for chatty telemetry (a stuck sensor re-sending, a UI
    double-fire). Returns the kept rows.

    Scale shape: one keyed window (user_id, event_type) carries the
    lag timestamp — a single exchange on the debounce key, then a
    narrow integer-seconds filter; ties at identical timestamps break
    on event_id so both engines keep the identical row.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    prev_sec = F.lag(F.col("ts").cast("long")).over(w)
    return (
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            "ts",
            "value",
            prev_sec.alias("_prev"),
        )
        .filter(
            F.col("_prev").isNull()
            | (F.col("ts").cast("long") - F.col("_prev") >= DEBOUNCE_GAP_S)
        )
        .select("event_id", "user_id", "event_type", "ts", "value")
    )


DEBOUNCED_EVENTS_SQL = f"""
WITH l AS (
  SELECT event_id, user_id, event_type, ts, value,
         LAG(FLOOR(epoch(ts))) OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts, event_id) AS prev_sec
  FROM events
)
SELECT event_id, user_id, event_type, ts, value
FROM l
WHERE prev_sec IS NULL OR FLOOR(epoch(ts)) - prev_sec >= {DEBOUNCE_GAP_S}
"""


QUERIES: list[Query] = [
    Query("gapfill_value_grid", gapfill_value_grid, GAPFILL_VALUE_GRID_SQL,
          ("time_gapfill", "timeseries_align"),
          "dense per-key bucket grid with forward fill + linear interpolation"),
    Query("interval_event_stats", interval_event_stats, INTERVAL_EVENT_STATS_SQL,
          ("range_interval_join",),
          "bucketed point-in-interval range join + per-interval stats"),
    sql_query("funnel_conversion", FUNNEL_CONVERSION_SQL,
              ("funnel_pattern",),
              "strictly-ordered view->click->purchase funnel per user"),
    sql_query("value_outliers_mad", VALUE_OUTLIERS_MAD_SQL,
              ("robust_outlier_detect",),
              "median/MAD modified z-score outlier detection per user"),
    Query("last_touch_attribution", last_touch_attribution,
          LAST_TOUCH_ATTRIBUTION_SQL,
          ("timeseries_align", "funnel_pattern"),
          "last-touch purchase attribution: LOCF window carries the "
          "most recent preceding view/click — one exchange, no join"),
    Query("incremental_rollup_hourly", incremental_rollup_hourly,
          INCREMENTAL_ROLLUP_HOURLY_SQL,
          ("continuous_aggregate", "per_node_stats"),
          "materialized hourly rollup maintained from out-of-order "
          "micro-batches == full recompute"),
    Query("incremental_cms_users", incremental_cms_users,
          INCREMENTAL_CMS_USERS_SQL,
          ("continuous_aggregate", "approx_distinct_nodes"),
          "CMS frequency counters maintained across out-of-order "
          "slices == batch sketch (element-wise mergeable artifact)"),
    Query("daily_rollup_from_hourly", daily_rollup_from_hourly,
          DAILY_ROLLUP_FROM_HOURLY_SQL,
          ("continuous_aggregate", "per_node_stats"),
          "rollup cascade: daily grain re-merged from the stored hourly "
          "partials (no raw rescan) == direct daily recompute"),
    Query("ewma_value_smooth", ewma_value_smooth, EWMA_VALUE_SMOOTH_SQL,
          ("rolling_avg_pm25", "timeseries_align"),
          "per-key truncated EWMA smoothing as a pure window expression"),
    sql_query("value_histogram", VALUE_HISTOGRAM_SQL,
              ("per_node_stats",),
              "fixed-width value histogram per event type (one-shuffle binning)"),
    sql_query("seasonal_decomposition", SEASONAL_DECOMPOSITION_SQL,
              ("timeseries_align", "rolling_avg_pm25"),
              "additive trend/seasonal/residual decomposition of the "
              "hourly series (25-pt centered MA + hour-of-day profile)"),
    sql_query("seasonal_anomaly_flags", SEASONAL_ANOMALY_FLAGS_SQL,
              ("robust_outlier_detect", "timeseries_align"),
              "seasonality-aware anomaly flags: median/MAD robust z over "
              "the decomposition residual (fires on unexplained spikes, "
              "not rhythm)"),
    Query("seasonal_naive_skill", seasonal_naive_skill,
          SEASONAL_NAIVE_SKILL_SQL,
          ("timeseries_align", "per_node_stats"),
          "per-key MAE/sMAPE of the same-hour-yesterday forecast baseline "
          "(epoch-arithmetic season alignment, gap-safe)"),
    Query("value_drift_cusum", value_drift_cusum, VALUE_DRIFT_CUSUM_SQL,
          ("robust_outlier_detect", "rolling_avg_pm25"),
          "CUSUM-chart sustained-shift detection as pure window algebra "
          "(cumsum vs running extrema, one shuffle)"),
    Query("value_acf_by_type", value_acf_by_type, VALUE_ACF_BY_TYPE_SQL,
          ("timeseries_align", "per_node_stats"),
          "autocorrelation of the hourly-mean series at lags 1..3 "
          "(one window sort serves all lags)"),
    Query("incremental_distinct_hourly", incremental_distinct_hourly,
          INCREMENTAL_DISTINCT_HOURLY_SQL,
          ("continuous_aggregate", "approx_distinct_nodes"),
          "materialized rollup maintains a mergeable HLL sketch for "
          "hourly distinct users across out-of-order slices"),
    sql_query("value_equidepth_bins", VALUE_EQUIDEPTH_BINS_SQL,
              ("per_node_stats",),
              "exact equi-depth histogram via deterministic NTILE binning"),
    Query("cohort_retention", cohort_retention, COHORT_RETENTION_SQL,
          ("funnel_pattern", "per_node_stats"),
          "weekly first-activity cohort retention (dedup-first, "
          "count-only after join)"),
    sql_query("event_transition_matrix", EVENT_TRANSITION_MATRIX_SQL, ("funnel_pattern",),
              "first-order Markov transition counts/probabilities over "
              "per-user event sequences"),
    sql_query("value_ks_drift", VALUE_KS_DRIFT_SQL,
              ("robust_outlier_detect", "per_node_stats"),
              "exact two-sample KS drift statistic per event type "
              "(binned CDF walk, per-key windows, no global sort)"),
    sql_query("type_corr_matrix", TYPE_CORR_MATRIX_SQL,
              ("timeseries_align", "per_node_stats"),
              "pairwise Pearson correlation of hourly-mean series "
              "(hour-keyed self equi-join, co-moment hash agg)"),
    Query("time_weighted_avg", time_weighted_avg, TIME_WEIGHTED_AVG_SQL,
          ("rolling_avg_pm25", "per_node_stats"),
          "LOCF time-weighted mean per user (one window shuffle, "
          "integer-microsecond weights)"),
    Query("m4_downsample", m4_downsample, M4_DOWNSAMPLE_SQL,
          ("timeseries_align", "column_projection"),
          "M4 pixel-exact chart downsampling: first/last/min/max per "
          "series bucket (selection-only, window+agg share one key)"),
    Query("winsorized_value_stats", winsorized_value_stats,
          WINSORIZED_VALUE_STATS_SQL, ("robust_outlier_detect",),
          "winsorized means per type (decimal-rounded clip bounds for "
          "bit-deterministic comparisons, 5-row broadcast join)"),
    Query("rollup_quantile_estimate", rollup_quantile_estimate,
          ROLLUP_QUANTILE_ESTIMATE_SQL,
          ("continuous_aggregate", "per_node_stats"),
          "quantiles from a MERGEABLE binned sketch: two disjoint "
          "slices merged by groupBy-sum, interpolated CDF walk"),
    Query("ab_welch_test", ab_welch_test, AB_WELCH_TEST_SQL,
          ("per_node_stats",),
          "A/B experiment readout: Welch t + Welch-Satterthwaite df "
          "under a deterministic md5 user split, ONE aggregation pass"),
    Query("bootstrap_value_ci", bootstrap_value_ci, BOOTSTRAP_VALUE_CI_SQL,
          ("per_node_stats",),
          "derandomized Bayesian-bootstrap SE + 95% CI per event type "
          "(map-side xB explode into a bounded (type,b) agg)"),
    Query("linear_attribution", linear_attribution, LINEAR_ATTRIBUTION_SQL,
          ("timeseries_align", "windowed_ingest"),
          "linear multi-touch attribution: user-keyed range join with "
          "7-day lookback, per-purchase equal credit split"),
    Query("dau_wau_stickiness", dau_wau_stickiness, DAU_WAU_STICKINESS_SQL,
          ("windowed_ingest", "per_node_stats"),
          "rolling 7-day COUNT DISTINCT via one-scan x7 day fan-out "
          "with k=0 markers (mergeable, no join, no window function)"),
    Query("pareto_user_share", pareto_user_share, PARETO_USER_SHARE_SQL,
          ("per_node_stats",),
          "smallest user prefix covering 80% of events: rank/cumsum "
          "over AGGREGATED per-user counts + integer prefix filter"),
    Query("type_hour_chi2", type_hour_chi2, TYPE_HOUR_CHI2_SQL,
          ("per_node_stats",),
          "Pearson chi-squared independence test on the type x "
          "hour-of-day contingency (one agg to cells, marginals reuse)"),
    Query("mannwhitney_value_test", mannwhitney_value_test,
          MANNWHITNEY_VALUE_TEST_SQL, ("per_node_stats",),
          "Mann-Whitney U / rank-sum A/B readout with midrank ties, "
          "keyed per-type rank windows"),
    Query("debounced_events", debounced_events, DEBOUNCED_EVENTS_SQL,
          ("timeseries_align", "exact_dedup"),
          "per-(user,type) time-window debounce: drop events within "
          "60s of the previous one (keyed lag window)"),
    Query("top_session_paths", top_session_paths, TOP_SESSION_PATHS_SQL,
          ("windowed_ingest", "time_sort"),
          "top first-3-event session journeys: one user-keyed sort "
          "serves sessionize + in-session ranking; rn-filter before "
          "collect bounds per-session state at 3 rows"),
    Query("conversion_latency_stats", conversion_latency_stats,
          CONVERSION_LATENCY_STATS_SQL, ("timeseries_align",),
          "time-to-convert distribution: one LOCF window carries the "
          "running first-view ts, per-user earliest conversion, "
          "percentiles over |users| aggregated rows"),
    Query("rfm_segments", rfm_segments, RFM_SEGMENTS_SQL,
          ("per_node_stats",),
          "RFM quartile segmentation: one scan to per-user stats, "
          "NTILE windows over AGGREGATED rows with total order, "
          "<=64-segment rollup"),
]
