"""Time-series / streaming-dual queries over the ``events`` table
(SURVEY.md §2.2, §2.5, §2.8, §2.9 batch duals).

``events`` (event_id, ts, user_id, event_type, value, props-json) plays
the role of the reference's telemetry stream: user_id ~ node, ts ~
event time, value ~ measurement, props ~ packet payload JSON. Every
query here is the batch dual of a reference streaming behavior, so the
DuckDB oracle can check semantics that the streaming operators
(streaming/) then reuse verbatim inside foreachBatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalars import tz_suffix_strip, utc_to_pacific
from ..io_utils import load
from ..operators.graph import cooccurrence_edges, triangle_counts
from ..operators.profile import profile_columns
from ..operators.sketch import (
    CMS_DEPTH,
    CMS_WIDTH,
    cms_counters,
    cms_estimate,
    hll_partial_sketches,
    hll_rollup_estimate,
)
from ..operators.align import sessionize
from .base import Query, r, sql_query


# --- flagship: per-node hourly aggregate (SURVEY §7.1 M0) --------------------

# Per-node, per-hour avg/min/max/count: the query graphdata.py's six
# plots visually answer (SURVEY §2.4 per_node_stats). One shuffle on
# (user_id, hour) with map-side partials; a NULL ts is its own NULL hour.
HOURLY_AVG_BY_NODE_SQL = """
SELECT user_id, date_trunc('hour', ts) AS hour_ts,
       CAST(ROUND(CAST(AVG(value) AS DECIMAL(38,9)), 2) AS DOUBLE) AS avg_value,
       CAST(ROUND(CAST(MIN(value) AS DECIMAL(38,9)), 2) AS DOUBLE) AS min_value,
       CAST(ROUND(CAST(MAX(value) AS DECIMAL(38,9)), 2) AS DOUBLE) AS max_value,
       COUNT(*) AS n
FROM events GROUP BY 1, 2
"""


# --- latest reading per node (heartbeat-dict dual, SURVEY §2.5) --------------

LATEST_READING_SQL = """
SELECT user_id, event_id, ts, event_type, CAST(ROUND(CAST(value AS DECIMAL(38,9)), 2) AS DOUBLE) AS value
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) WHERE rn = 1
"""


# --- offline/gap detection, batch dual (SURVEY §2.5, §2.9) -------------------

GAP_SECONDS = 1800


READING_GAPS_SQL = f"""
SELECT user_id, prev_ts, ts, gap_seconds
FROM (SELECT user_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts,
             CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts))) AS BIGINT)
               AS gap_seconds
      FROM events)
WHERE prev_ts IS NOT NULL AND gap_seconds > {GAP_SECONDS}
"""


# --- trailing range-window rolling average (SURVEY §2.5) ----------------------

ROLLING_AVG_VALUE_SQL = """
SELECT event_id, user_id, ts,
       CAST(ROUND(CAST(AVG(value) OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                              RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS DECIMAL(38,9)), 2) AS DOUBLE)
         AS rolling_avg_1h
FROM events
"""


# --- sessionization (SURVEY §2.9 windowed_ingest / session_window dual) ------

def session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    sess = sessionize(ev, "user_id", "ts", GAP_SECONDS)
    return sess.groupBy("user_id").agg(
        F.max("session_id").cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


SESSION_COUNTS_SQL = f"""
WITH flagged AS (
  SELECT user_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > {GAP_SECONDS} * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
)
SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM flagged GROUP BY user_id
"""


def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session aggregates via Spark's NATIVE
    ``F.session_window`` — the same operator the streaming engine uses
    for watermarked session aggregation, and the scale-preferred form
    next to ``session_counts``' manual lag/flag/running-sum
    sessionization: sessions merge INSIDE one hash aggregate (map-side
    partial session merging), no ordered window function over the
    event table. Output pins the full session-window semantics:
    start = first event, end = last event + gap.

    Oracle: island detection (lag > gap -> break, running sum -> group)
    with end re-derived as max(ts) + gap, which is definitionally
    equivalent.
    """
    ev = load(spark, sf_dir, "events")
    sw = ev.groupBy(
        "user_id", F.session_window("ts", f"{GAP_SECONDS} seconds")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        r(F.sum("value"), 4).alias("sum_value"),
    )
    return sw.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
        "sum_value",
    )


SESSION_WINDOW_STATS_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > {GAP_SECONDS} * 1000000
              THEN 1 ELSE 0 END AS brk
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
grp AS (
  SELECT user_id, ts, value,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL {GAP_SECONDS} SECOND AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(ROUND(CAST(SUM(value) AS DECIMAL(38,9)), 4) AS DOUBLE) AS sum_value
FROM grp GROUP BY user_id, g
"""


# --- sliding windows (SURVEY §2.9 windowed_ingest, overlapping variant) -------

SLIDE_WIDTH_S = 7200
SLIDE_STEP_S = 3600


def sliding_hourly_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type event load over 2-hour windows sliding every hour —
    the overlapping-window variant next to the tumbling (hourly_avg)
    and session (session_counts) forms. ``F.window(ts, '2 hours',
    '1 hour')`` assigns each event to width/step = 2 windows before the
    hash agg (bounded fan-out, map-side partials); the oracle unrolls
    the same assignment with an explicit 2-bucket unnest."""
    ev = load(spark, sf_dir, "events")
    w = F.window("ts", f"{SLIDE_WIDTH_S} seconds", f"{SLIDE_STEP_S} seconds")
    return (
        ev.groupBy(F.col("event_type"), w.alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), r(F.avg("value"), 2).alias("avg_value"))
        .select(
            "event_type",
            F.col("w.start").cast("long").alias("win_start_epoch"),
            "n",
            "avg_value",
        )
    )


SLIDING_HOURLY_LOAD_SQL = f"""
SELECT event_type, win_start_epoch, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(ROUND(CAST(AVG(value) AS DECIMAL(38,9)), 2) AS DOUBLE) AS avg_value
FROM (
  SELECT event_type, value,
         unnest([
           (CAST(floor(epoch(ts)) AS BIGINT) // {SLIDE_STEP_S}) * {SLIDE_STEP_S},
           (CAST(floor(epoch(ts)) AS BIGINT) // {SLIDE_STEP_S}) * {SLIDE_STEP_S} - {SLIDE_STEP_S}
         ]) AS win_start_epoch
  FROM events
)
GROUP BY 1, 2
"""


# --- JSON envelope parsing (SURVEY §2.8 json_envelope_parse) ------------------

# Parse the props JSON payload; an absent key (or, on Spark, corrupt
# JSON) gives null: the reference's .get(key, None) semantics
# (AIRWISEv0.py:132-135). TRY_CAST covers numeric_coercion.
PROPS_JSON_EXTRACT_SQL = """
SELECT event_type,
       CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       COUNT(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_parsed,
       CAST(ROUND(CAST(AVG(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DECIMAL(38,9)), 2) AS DOUBLE) AS avg_k
FROM events GROUP BY event_type
"""


# --- VARIANT-typed JSON access (Spark 4 semi-structured path) -----------------


def props_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark-4 VARIANT path for semi-structured access:
    ``parse_json`` once into a binary variant, then typed
    ``try_variant_get`` extraction — at scale the parse cost is paid
    once per row even when many fields are read (``get_json_object``
    re-parses per field), and the variant column can be STORED,
    making later reads skip text parsing entirely. Same null-on-
    absent/corrupt semantics as the reference's ``.get(key, None)``.
    """
    ev = load(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
            F.count("k").alias("n_with_k"),
        )
    )


PROPS_VARIANT_EXTRACT_SQL = """
SELECT event_type,
       CAST(MIN(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(MAX(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       COUNT(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k
FROM events GROUP BY event_type
"""


# --- epoch <-> timestamp <-> string round trip (SURVEY §2.8) ------------------

def epoch_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """epoch_to_timestamp + date_format_render parity on real data."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.col("ts").cast("long").alias("epoch_s"),
        F.date_format(F.timestamp_seconds(F.col("ts").cast("long")),
                      "yyyy-MM-dd HH:mm:ss").alias("rendered"),
    )


EPOCH_ROUNDTRIP_SQL = """
SELECT event_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
       strftime(epoch_ms(CAST(floor(epoch(ts)) AS BIGINT) * 1000), '%Y-%m-%d %H:%M:%S') AS rendered
FROM events
"""


# --- UTC -> Pacific conversion (SURVEY §2.8 utc_to_pacific) -------------------

def pacific_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day boundaries computed in America/Los_Angeles — the tz semantics
    of cleandata.py:27. Jan-2024 data = PST (UTC-8)."""
    ev = load(spark, sf_dir, "events")
    la_day = F.date_format(utc_to_pacific(F.col("ts")), "yyyy-MM-dd")
    return ev.groupBy(la_day.alias("la_date")).agg(
        F.count("*").alias("n"),
        r(F.sum("value"), 2).alias("sum_value"),
    )


PACIFIC_DAILY_COUNTS_SQL = """
SELECT strftime(ts AT TIME ZONE 'UTC' AT TIME ZONE 'America/Los_Angeles',
                '%Y-%m-%d') AS la_date,
       COUNT(*) AS n, CAST(ROUND(CAST(SUM(value) AS DECIMAL(38,9)), 2) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
"""


# --- tz-suffix strip + coercing parse (SURVEY §2.8) ---------------------------

def tz_suffix_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the reference's suffixed string form (graphdata.py:50-53),
    strip it, parse with coercion (errors -> null), render back."""
    ev = load(spark, sf_dir, "events")
    suffixed = F.concat(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss"), F.lit(" Pacific Standard Time")
    )
    stripped = tz_suffix_strip(suffixed)
    parsed = F.try_to_timestamp(stripped, F.lit("yyyy-MM-dd HH:mm:ss"))
    return ev.select(
        "event_id",
        F.date_format(parsed, "yyyy-MM-dd HH:mm:ss").alias("reparsed"),
    )


TZ_SUFFIX_ROUNDTRIP_SQL = """
SELECT event_id,
       strftime(strptime(regexp_replace(strftime(ts, '%Y-%m-%d %H:%M:%S')
                         || ' Pacific Standard Time',
                         ' Pacific (Standard|Daylight) Time$', ''),
                '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS reparsed
FROM events
"""


# --- unit conversion + rounding (SURVEY §2.8 f_to_c, round_cols) --------------

F_TO_C_VALUES_SQL = """
SELECT event_id, CAST(ROUND(CAST((value - 32.0) * 5.0 / 9.0 AS DECIMAL(38,9)), 3) AS DOUBLE) AS value_c
FROM events
"""


# --- session-window outage episodes (SURVEY §2.9 windowed_ingest) -------------

EPISODE_GAP_SECONDS = 1800


def outage_episode_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window episodes: a gap >= 30 min ends an online episode
    (the session-window dual of offline_detection, streaming/monitor.py).
    Start = first reading, end = last reading + gap."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", f"{EPISODE_GAP_SECONDS} seconds").alias("sw")
        )
        .agg(F.count("*").alias("n_readings"))
        .select(
            "user_id",
            F.col("sw.start").alias("episode_start"),
            F.col("sw.end").alias("episode_end"),
            "n_readings",
        )
    )


OUTAGE_EPISODE_BOUNDS_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w >= INTERVAL {EPISODE_GAP_SECONDS} SECOND
              THEN 1 ELSE 0 END AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id, MIN(ts) AS episode_start,
       MAX(ts) + INTERVAL {EPISODE_GAP_SECONDS} SECOND AS episode_end,
       COUNT(*) AS n_readings
FROM sess GROUP BY user_id, sid
"""


# --- as-of join (SURVEY §2.3 timeseries_align, as-of variant) -----------------

def asof_latest_view_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every click, the most recent view's value for the same user at
    or before the click — the union + last(ignorenulls) as-of join
    (SURVEY §2.3: no shuffle beyond the one per-key sort; never a range
    cross product). Ties at one timestamp order views first, then
    event_id, so semantics are deterministic."""
    ev = load(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id",
        F.col("value").alias("view_value"), F.lit(0).alias("is_click"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id",
        F.lit(None).cast("double").alias("view_value"), F.lit(1).alias("is_click"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_click", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        views.unionByName(clicks)
        .withColumn("asof_view_value", F.last("view_value", ignorenulls=True).over(w))
        .filter(F.col("is_click") == 1)
        .select("user_id", "event_id", "ts", r("asof_view_value", 2).alias("asof_view_value"))
    )


ASOF_TOLERANCE_S = 1800


def asof_view_within_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every click, the latest same-user view at-or-before it —
    null-extended when that view is more than 30 min stale
    (``asof_join_tolerance``; plain as-of carries stale state forever).
    The right side is pre-deduped to one row per (user, ts) via max_by
    so tie semantics are engine-independent. The DuckDB twin uses the
    native ASOF JOIN operator — an independent implementation of the
    same semantics, not a re-statement of ours."""
    from ..operators.align import asof_join_tolerance

    ev = load(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("view_value"))
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    j = asof_join_tolerance(
        clicks, views, "user_id", "ts", "ts", ["view_value"], ASOF_TOLERANCE_S
    )
    return j.select(
        "user_id",
        "event_id",
        F.col("ts").cast("long").alias("ts_epoch"),
        "matched_epoch",
        (F.col("ts").cast("long") - F.col("matched_epoch")).alias("lag_seconds"),
        r("view_value", 2).alias("view_value"),
    )


ASOF_VIEW_WITHIN_TOLERANCE_SQL = f"""
WITH v AS (
  SELECT user_id, ts, max_by(value, event_id) AS view_value
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
),
c AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
),
j AS (
  SELECT c.user_id, c.event_id,
         CAST(floor(epoch(c.ts)) AS BIGINT) AS ts_epoch,
         CAST(floor(epoch(v.ts)) AS BIGINT) AS v_epoch,
         v.view_value
  FROM c ASOF LEFT JOIN v
    ON c.user_id = v.user_id AND c.ts >= v.ts
)
SELECT user_id, event_id, ts_epoch,
       CASE WHEN ts_epoch - v_epoch <= {ASOF_TOLERANCE_S} THEN v_epoch END
         AS matched_epoch,
       CASE WHEN ts_epoch - v_epoch <= {ASOF_TOLERANCE_S}
            THEN ts_epoch - v_epoch END AS lag_seconds,
       CASE WHEN ts_epoch - v_epoch <= {ASOF_TOLERANCE_S}
            THEN CAST(ROUND(CAST(view_value AS DECIMAL(38,9)), 2) AS DOUBLE) END
         AS view_value
FROM j
"""


ASOF_LATEST_VIEW_VALUE_SQL = """
WITH u AS (
  SELECT user_id, ts, event_id, value AS view_value, 0 AS is_click
  FROM events WHERE event_type = 'view'
  UNION ALL
  SELECT user_id, ts, event_id, NULL, 1 FROM events WHERE event_type = 'click'
), f AS (
  SELECT user_id, ts, event_id, is_click,
         LAST_VALUE(view_value IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, is_click, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_view_value
  FROM u
)
SELECT user_id, event_id, ts,
       CAST(ROUND(CAST(asof_view_value AS DECIMAL(38,9)), 2) AS DOUBLE) AS asof_view_value
FROM f WHERE is_click = 1
"""


# --- multi-source time-bucket alignment (SURVEY §2.3 timeseries_align) -------

# graphdata.py's shared-axis overlay as a real query: two tagged sources
# -> union -> 5-minute bucket averages per source.
ALIGNED_TYPE_BUCKETS_SQL = """
WITH u AS (
  SELECT 'clicks' AS source, ts, value FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT 'views'  AS source, ts, value FROM events WHERE event_type = 'view'
)
SELECT epoch_ms(CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) * 1000) AS bucket_ts, source,
       CAST(ROUND(CAST(AVG(value) AS DECIMAL(38,9)), 2) AS DOUBLE) AS avg_value,
       CAST(ROUND(CAST(MIN(value) AS DECIMAL(38,9)), 2) AS DOUBLE) AS min_value,
       CAST(ROUND(CAST(MAX(value) AS DECIMAL(38,9)), 2) AS DOUBLE) AS max_value,
       COUNT(value) AS n
FROM u GROUP BY 1, 2
"""


def value_percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type (median + p90 —
    both engines use the quantile_cont definition; the decimal round
    absorbs interpolation ulp)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        r(F.median("value"), 2).alias("p50_value"),
        r(F.percentile("value", 0.9), 2).alias("p90_value"),
        F.count("*").alias("n"),
    )


VALUE_PERCENTILES_BY_TYPE_SQL = """
SELECT event_type,
       CAST(ROUND(CAST(median(value) AS DECIMAL(38,9)), 2) AS DOUBLE) AS p50_value,
       CAST(ROUND(CAST(quantile_cont(value, 0.9) AS DECIMAL(38,9)), 2) AS DOUBLE) AS p90_value,
       COUNT(*) AS n
FROM events GROUP BY event_type
"""


CONDITIONAL_EVENT_COUNTS_SQL = """
SELECT user_id,
       CAST(count_if(value > 50) AS BIGINT) AS n_high,
       CAST(count_if(event_type = 'click') AS BIGINT) AS n_clicks,
       CAST(ROUND(CAST(AVG(CASE WHEN event_type = 'click' THEN value END) AS DECIMAL(38,9)), 2) AS DOUBLE) AS avg_click_value,
       COUNT(*) AS n
FROM events GROUP BY user_id
"""


# Per-user stats over the gap to the NEXT event (lead window: the
# forward dual of reading_gap_detect's lag).
LEAD_GAP_STATS_SQL = """
SELECT user_id,
       CAST(ROUND(CAST(AVG(gap_s) AS DECIMAL(38,9)), 2) AS DOUBLE) AS avg_gap_s,
       MAX(gap_s) AS max_gap_s,
       COUNT(*) AS n_gaps
FROM (SELECT user_id,
             CAST(floor(epoch(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts))) AS BIGINT)
               - CAST(floor(epoch(ts)) AS BIGINT) AS gap_s
      FROM events)
WHERE gap_s IS NOT NULL
GROUP BY user_id
"""


def user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user value trend via the applyInPandas grouped-map operator
    — oracle-checked against SQL regr_slope, proving the Arrow path
    computes the same least-squares definition."""
    from ..operators.align import per_key_linear_trend

    ev = load(spark, sf_dir, "events")
    trend = per_key_linear_trend(ev, "user_id", "ts", "value")
    return trend.select(
        F.col("key").alias("user_id"),
        r("slope_per_hour", 4).alias("slope_per_hour"),
        "n",
    )


USER_VALUE_TREND_SQL = """
SELECT user_id,
       CAST(ROUND(CAST(regr_slope(value, epoch(ts)) * 3600 AS DECIMAL(38,9)), 4) AS DOUBLE)
         AS slope_per_hour,
       -- regr_count = non-null (value, ts) pairs, matching the pandas
       -- path's post-na.drop n (COUNT(*) diverges on nullable inputs)
       CAST(regr_count(value, epoch(ts)) AS BIGINT) AS n
FROM events GROUP BY user_id
"""


def props_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex field extraction from the raw props string (SURVEY §2.8
    noted regex-beyond-literal-replace as absent-but-inherited; this
    declares it): pull the numeric k with a capture group, aggregate."""
    ev = load(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k":\s*(\d+)', 1).try_cast("long")
    return (
        ev.withColumn("k", k)
        .filter(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


PROPS_REGEX_EXTRACT_SQL = r"""
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(k) AS BIGINT) AS sum_k, MAX(k) AS max_k
FROM (SELECT event_type,
             TRY_CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k
      FROM events)
WHERE k IS NOT NULL
GROUP BY event_type
"""


# --- co-presence graph triangles ----------------------------------------------

COPRESENCE_MIN_SHARED_HOURS = 12


def user_copresence_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community structure in the user co-presence graph: connect two
    users when they were active in >= COPRESENCE_MIN_SHARED_HOURS of
    the same clock hours, then count each user's triangle
    participation — the clustering-coefficient numerator that
    separates genuine cohorts from hub artifacts.

    Scale shape (operators/graph.py): co-occurrence via distinct +
    bucket-size gate + self equi-join on the hour key (never all user
    pairs), triangles via the degree-ordered orientation (wedge
    fan-out bounded by arboricity, both steps plain equi-joins). The
    oracle re-derives the same graph and enumerates id-ordered
    triangles with a 3-way join — orientation-independence of the
    triangle set is part of what the hash match proves.
    """
    ev = load(spark, sf_dir, "events")
    # hour bucket as an epoch long, not a truncated timestamp: same
    # grouping (floor(epoch/3600) == date_trunc hour under the UTC
    # session), ~20% cheaper through the pair shuffle (8-byte key,
    # cheaper hash). The bucket never reaches the output, so the
    # oracle's date_trunc formulation is grouping-equivalent.
    edges = cooccurrence_edges(
        ev,
        "user_id",
        F.floor(F.unix_timestamp("ts") / 3600),
        min_shared=COPRESENCE_MIN_SHARED_HOURS,
    )
    return triangle_counts(edges).select(
        F.col("node").alias("user_id"), "n_triangles"
    )


USER_COPRESENCE_TRIANGLES_SQL = f"""
WITH uh AS (
  SELECT DISTINCT user_id, date_trunc('hour', ts) AS h FROM events
),
sizes AS (SELECT h FROM uh GROUP BY h HAVING COUNT(*) <= 500),
kept AS (SELECT uh.user_id, uh.h FROM uh JOIN sizes USING (h)),
e AS (
  SELECT a.user_id AS a, b.user_id AS b
  FROM kept a JOIN kept b ON a.h = b.h AND a.user_id < b.user_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= {COPRESENCE_MIN_SHARED_HOURS}
),
tri AS (
  SELECT e1.a AS u, e1.b AS v, e2.b AS w
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
nodes AS (
  SELECT u AS user_id FROM tri
  UNION ALL SELECT v FROM tri
  UNION ALL SELECT w FROM tri
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM nodes GROUP BY user_id
"""


# --- mergeable-sketch distinct rollup -----------------------------------------


# A SINGLE default (lgConfigK=12) HLL sketch is exact through 512
# distinct values, but the UNION of daily partials promotes to the
# estimating HLL mode earlier (measured: merged 30-day sketches exact
# through 350 distincts, estimating at 400). 256 keeps the bounded
# subject safely inside the merged-path exact regime at every scale
# factor.
HLL_EXACT_USER_BOUND = 256


def hll_distinct_users_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type computed the INCREMENTAL way: one
    HLL sketch per (event_type, day) partial — the artifact a pipeline
    materializes once per ingest day — merged and estimated at query
    time (operators/sketch.py).

    The sketched SUBJECT is bounded to user_id < {bound} on both
    engines (the declared-sample convention of the all-pairs family):
    per-type cardinality then stays inside the MERGED sketch's exact
    list/set regime (measured: a single lgConfigK=12 sketch is exact
    through 512 distincts but the union of 30 daily partials promotes
    to estimation at ~400), so the estimate equals DuckDB's
    exact COUNT(DISTINCT) at EVERY scale factor and the hash match
    proves the whole partial->merge->estimate path — an unbounded
    subject made the twin silently scale-fragile: green at sf0.01,
    1488-vs-1500 at sf0.1 (caught by the r5 full-sf0.1 sweep). The
    unbounded production path degrades gracefully to ~1.6% rse and is
    tolerance-tested in tests/test_sketch.py, where mergeability
    itself — union of partials == single-pass sketch — is asserted
    exactly at any size.
    """
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < HLL_EXACT_USER_BOUND)
    partials = hll_partial_sketches(
        ev, ["event_type"], "user_id", F.to_date("ts"), "day"
    )
    est = hll_rollup_estimate(partials, ["event_type"])
    return est.select(
        "event_type",
        F.col("distinct_est").cast("long").alias("distinct_users"),
        "n_rows",
        "n_buckets",
    )


HLL_DISTINCT_USERS_ROLLUP_SQL = f"""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_buckets
FROM events
WHERE user_id < {HLL_EXACT_USER_BOUND}
GROUP BY event_type
"""


# --- one-pass table profile ---------------------------------------------------


def events_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of every events column in ONE scan + ONE
    aggregate (operators/profile.py): null counts, exact cardinalities
    (Expand — the declared cost of exactness; approx=True is the
    sketch-based relaxation for wide tables), numeric/timestamp
    ranges. The pre-flight check a pipeline runs on a new snapshot.
    """
    ev = load(spark, sf_dir, "events")
    prof = profile_columns(ev)
    return prof.select(
        F.col("column").alias("col_name"),
        "n_rows",
        "n_null",
        "n_distinct",
        r("min_num", 4).alias("min_num"),
        r("max_num", 4).alias("max_num"),
    )


HEAVY_HITTER_USERS_SQL = """
WITH tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS _total FROM events),
c AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id
)
SELECT /*+ BROADCAST(tot) */ c.user_id, c.n_events,
       -- force DOUBLE before dividing: the bare literal 100.0 routes
       -- DuckDB through DECIMAL arithmetic while Spark computes in
       -- DOUBLE, which could round differently at a .xxxx5 boundary
       CAST(ROUND(CAST(CAST(c.n_events * 100.0 AS DOUBLE) / tot._total
            AS DECIMAL(38,9)), 4) AS DOUBLE)
         AS pct_of_events
FROM c, tot
WHERE c.n_events * 10000 >= tot._total * 75
"""


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimation with an exact accuracy
    audit: top-20 users by SKETCH estimate, alongside their exact
    count and the sketch overestimate (always >= 0 — CMS never
    under-counts).

    Like ``quantized_topk_cosine``'s int8 audit, the derandomized
    md5-based hash (operators/sketch.py::cms_bucket) makes the
    ESTIMATE itself hash-checkable against a DuckDB twin that rebuilds
    the same depth x width counter matrix. The exact per-user count
    exists here only to measure error at test scale; at 100 TB the
    counter matrix (depth*width rows, O(1) in corpus, mergeable by
    element-wise SUM across slices — the frequency analogue of the
    HLL rollup) is the artifact, and candidates come from a cheap
    sampled pass instead. Deliberately small width (64) so collisions
    actually occur at sf0.01 and the overestimate column is a live
    signal, not constant zero.
    """
    ev = load(spark, sf_dir, "events")
    counters = cms_counters(ev, "user_id", CMS_DEPTH, CMS_WIDTH)
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("exact_n")
    )
    est = cms_estimate(exact, counters, "user_id", CMS_DEPTH, CMS_WIDTH)
    return (
        est.select(
            "user_id",
            "est_n",
            "exact_n",
            (F.col("est_n") - F.col("exact_n")).cast("long").alias("overestimate"),
        )
        .orderBy(F.col("est_n").desc(), "user_id")
        .limit(20)
    )


CMS_HEAVY_HITTERS_SQL = f"""
WITH rows_j AS (SELECT UNNEST({list(range(CMS_DEPTH))}) AS j),
h AS (
  SELECT j.j,
         CAST(concat('0x', substr(md5(j.j || ':' || CAST(e.user_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % {CMS_WIDTH} AS bucket
  FROM events e, rows_j j
),
counters AS (
  SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS c FROM h GROUP BY j, bucket
),
cand AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n FROM events GROUP BY user_id
),
est AS (
  -- LEFT JOIN + COALESCE 0 mirrors cms_estimate: a candidate bucket
  -- with no counter row reads 0 (equivalent here where every
  -- candidate came from the sketched corpus, semantically exact for
  -- the cross-slice use)
  SELECT cand.user_id, cand.exact_n,
         CAST(MIN(COALESCE(ct.c, 0)) AS BIGINT) AS est_n
  FROM cand
  JOIN rows_j j ON TRUE
  LEFT JOIN counters ct
    ON ct.j = j.j
   AND ct.bucket = CAST(concat('0x', substr(md5(j.j || ':' || CAST(cand.user_id AS VARCHAR)), 1, 15)) AS BIGINT)
                     % {CMS_WIDTH}
  GROUP BY cand.user_id, cand.exact_n
)
SELECT user_id, est_n, exact_n, CAST(est_n - exact_n AS BIGINT) AS overestimate
FROM est
ORDER BY est_n DESC, user_id
LIMIT 20
"""


SKEW_KEY_REPORT_SQL = """
WITH c AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY user_id
),
s AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(MAX(n) AS BIGINT) AS max_key_rows
  FROM c
),
t AS (
  SELECT CAST(SUM(n) AS BIGINT) AS top10_rows
  FROM (SELECT n FROM c ORDER BY n DESC, user_id LIMIT 10)
)
SELECT /*+ BROADCAST(t) */ s.n_rows, s.n_keys,
       CAST(ROUND(CAST(CAST(s.n_rows * 1.0 AS DOUBLE) / s.n_keys AS DECIMAL(38,9)), 4) AS DOUBLE) AS avg_key_rows,
       s.max_key_rows,
       CAST(ROUND(CAST(CAST(s.max_key_rows * 100.0 AS DOUBLE) / s.n_rows AS DECIMAL(38,9)), 4) AS DOUBLE) AS top1_pct,
       CAST(ROUND(CAST(CAST(t.top10_rows * 100.0 AS DOUBLE) / s.n_rows AS DECIMAL(38,9)), 4) AS DOUBLE) AS top10_pct
FROM s, t
"""


EVENTS_COLUMN_PROFILE_SQL = """
WITH one AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_id,
         CAST(COUNT(DISTINCT event_id) AS BIGINT) AS dist_event_id,
         MIN(event_id)::DOUBLE AS min_event_id, MAX(event_id)::DOUBLE AS max_event_id,
         CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ts,
         CAST(COUNT(DISTINCT ts) AS BIGINT) AS dist_ts,
         FLOOR(epoch(MIN(ts)))::DOUBLE AS min_ts, FLOOR(epoch(MAX(ts)))::DOUBLE AS max_ts,
         CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user_id,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dist_user_id,
         MIN(user_id)::DOUBLE AS min_user_id, MAX(user_id)::DOUBLE AS max_user_id,
         CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_type,
         CAST(COUNT(DISTINCT event_type) AS BIGINT) AS dist_event_type,
         CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value,
         CAST(COUNT(DISTINCT value) AS BIGINT) AS dist_value,
         MIN(value)::DOUBLE AS min_value, MAX(value)::DOUBLE AS max_value,
         CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_props,
         CAST(COUNT(DISTINCT props) AS BIGINT) AS dist_props
  FROM events
)
SELECT 'event_id' AS col_name, n_rows, null_event_id AS n_null, dist_event_id AS n_distinct,
       CAST(ROUND(CAST(min_event_id AS DECIMAL(38,9)), 4) AS DOUBLE) AS min_num, CAST(ROUND(CAST(max_event_id AS DECIMAL(38,9)), 4) AS DOUBLE) AS max_num FROM one
UNION ALL
SELECT 'ts' AS col_name, n_rows, null_ts AS n_null, dist_ts AS n_distinct,
       CAST(ROUND(CAST(min_ts AS DECIMAL(38,9)), 4) AS DOUBLE) AS min_num, CAST(ROUND(CAST(max_ts AS DECIMAL(38,9)), 4) AS DOUBLE) AS max_num FROM one
UNION ALL
SELECT 'user_id' AS col_name, n_rows, null_user_id AS n_null, dist_user_id AS n_distinct,
       CAST(ROUND(CAST(min_user_id AS DECIMAL(38,9)), 4) AS DOUBLE) AS min_num, CAST(ROUND(CAST(max_user_id AS DECIMAL(38,9)), 4) AS DOUBLE) AS max_num FROM one
UNION ALL
SELECT 'event_type' AS col_name, n_rows, null_event_type AS n_null, dist_event_type AS n_distinct,
       CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num FROM one
UNION ALL
SELECT 'value' AS col_name, n_rows, null_value AS n_null, dist_value AS n_distinct,
       CAST(ROUND(CAST(min_value AS DECIMAL(38,9)), 4) AS DOUBLE) AS min_num, CAST(ROUND(CAST(max_value AS DECIMAL(38,9)), 4) AS DOUBLE) AS max_num FROM one
UNION ALL
SELECT 'props' AS col_name, n_rows, null_props AS n_null, dist_props AS n_distinct,
       CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num FROM one
"""


# --- consistent pseudonymization (GDPR-adjacent re-keying) ---------------------

PSEUDO_SALT = "pseudo-v1:"


def pseudonymized_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent salted-hash pseudonymization of the user key: every
    occurrence of a user_id maps to the same 16-hex-char pseudonym, so
    joins / sessionization / per-user aggregation still work on the
    shared dataset while the raw identifier never leaves the lake —
    the anonymize dual of ``erase_key`` (which removes a subject; this
    de-identifies all of them). Salted so the pseudonym space is
    unlinkable across releases (rotate the salt per release).

    Scale shape: a pure narrow projection — one sha2 per row, no
    shuffle, no lookup table to build, distribute, or leak.
    """
    ev = load(spark, sf_dir, "events")
    pseudo = F.substring(
        F.sha2(F.concat(F.lit(PSEUDO_SALT), F.col("user_id").cast("string")), 256),
        1,
        16,
    )
    return ev.select(
        "event_id",
        pseudo.alias("pseudo_user"),
        "event_type",
        "ts",
        "value",
    )


PSEUDONYMIZED_EVENTS_SQL = f"""
SELECT event_id,
       substr(sha256('{PSEUDO_SALT}' || CAST(user_id AS VARCHAR)), 1, 16)
         AS pseudo_user,
       event_type, ts, value
FROM events
"""


QUERIES: list[Query] = [
    sql_query("hourly_avg_by_node", HOURLY_AVG_BY_NODE_SQL,
              ("per_node_stats", "windowed_ingest"), "flagship per-node hourly stats"),
    sql_query("latest_reading_per_node", LATEST_READING_SQL,
              ("latest_reading_per_node", "last_seen_per_node"), "heartbeat-dict dual"),
    sql_query("reading_gap_detect", READING_GAPS_SQL,
              ("reading_gap_detect", "offline_detection"), "batch offline detection"),
    sql_query("rolling_avg_value", ROLLING_AVG_VALUE_SQL,
              ("rolling_avg_pm25",), "trailing 1h range-window average"),
    Query("session_counts", session_counts, SESSION_COUNTS_SQL,
          ("windowed_ingest", "offline_detection"), "gap-based sessionization"),
    Query("session_window_stats", session_window_stats,
          SESSION_WINDOW_STATS_SQL,
          ("windowed_ingest", "offline_detection"),
          "native F.session_window per-user session aggregates "
          "(sessions merge inside one hash agg; start/end semantics "
          "pinned)"),
    Query("props_variant_extract", props_variant_extract,
          PROPS_VARIANT_EXTRACT_SQL, ("json_envelope_parse",),
          "VARIANT-typed JSON access: parse once, typed try_variant_get"),
    sql_query("props_json_extract", PROPS_JSON_EXTRACT_SQL,
              ("json_envelope_parse", "numeric_coercion"), "JSON payload field extraction"),
    Query("epoch_roundtrip", epoch_roundtrip, EPOCH_ROUNDTRIP_SQL,
          ("epoch_to_timestamp", "date_format_render"), "epoch<->ts<->string round trip"),
    Query("pacific_daily_counts", pacific_daily_counts, PACIFIC_DAILY_COUNTS_SQL,
          ("utc_to_pacific",), "LA-timezone day bucketing"),
    Query("tz_suffix_roundtrip", tz_suffix_roundtrip, TZ_SUFFIX_ROUNDTRIP_SQL,
          ("tz_suffix_strip", "timestamp_parse_coerce"), "suffix strip + coercing parse"),
    sql_query("f_to_c_values", F_TO_C_VALUES_SQL,
              ("f_to_c", "round_cols"), "unit conversion + rounding"),
    sql_query("aligned_type_buckets", ALIGNED_TYPE_BUCKETS_SQL,
              ("timeseries_align", "multi_file_union"), "multi-source time-bucket alignment"),
    Query("outage_episodes", outage_episode_bounds, OUTAGE_EPISODE_BOUNDS_SQL,
          ("windowed_ingest", "offline_detection"), "session-window outage episodes"),
    Query("asof_latest_view_value", asof_latest_view_value, ASOF_LATEST_VIEW_VALUE_SQL,
          ("timeseries_align",), "union+last(ignorenulls) as-of join"),
    Query("asof_view_within_tolerance", asof_view_within_tolerance,
          ASOF_VIEW_WITHIN_TOLERANCE_SQL, ("timeseries_align",),
          "tolerance-bounded as-of join vs DuckDB's native ASOF JOIN"),
    Query("value_percentiles_by_type", value_percentiles_by_type,
          VALUE_PERCENTILES_BY_TYPE_SQL, ("per_node_stats",),
          "exact interpolated median/p90 per group"),
    sql_query("conditional_event_counts", CONDITIONAL_EVENT_COUNTS_SQL,
              ("per_node_stats", "packet_type_filter"),
              "count_if + conditional average per user"),
    sql_query("lead_gap_stats", LEAD_GAP_STATS_SQL,
              ("reading_gap_detect",), "lead-window forward gap stats"),
    Query("props_regex_extract", props_regex_extract, PROPS_REGEX_EXTRACT_SQL,
          ("json_envelope_parse", "numeric_coercion"), "regex capture-group extraction"),
    Query("user_value_trend", user_value_trend, USER_VALUE_TREND_SQL,
          ("per_node_stats",),
          "applyInPandas per-key least-squares trend vs regr_slope oracle"),
    Query("sliding_hourly_load", sliding_hourly_load, SLIDING_HOURLY_LOAD_SQL,
          ("windowed_ingest",),
          "2h-wide / 1h-slide overlapping window aggregate"),
    Query("user_copresence_triangles", user_copresence_triangles,
          USER_COPRESENCE_TRIANGLES_SQL,
          ("per_node_stats",),
          "co-presence graph build (bucket equi-join) + degree-ordered "
          "triangle counting"),
    Query("hll_distinct_users_rollup", hll_distinct_users_rollup,
          HLL_DISTINCT_USERS_ROLLUP_SQL,
          ("approx_distinct_nodes", "windowed_ingest"),
          "incremental distinct via mergeable per-day HLL sketches "
          "(exact-sparse at oracle scale; rsd-bounded beyond)"),
    sql_query("heavy_hitter_users", HEAVY_HITTER_USERS_SQL,
              ("per_node_stats", "approx_distinct_nodes"),
              "exact heavy hitters (integer-arithmetic support threshold); "
              "hash-checkable twin of the freqItems sketch"),
    Query("pseudonymized_events", pseudonymized_events,
          PSEUDONYMIZED_EVENTS_SQL,
          ("column_projection",),
          "consistent salted-hash pseudonymization of the user key "
          "(narrow sha2 projection; the anonymize dual of erase_key)"),
    Query("events_column_profile", events_column_profile,
          EVENTS_COLUMN_PROFILE_SQL,
          ("per_node_stats", "approx_distinct_nodes"),
          "one-scan all-column data-quality profile (nulls, exact "
          "cardinality, numeric/timestamp ranges)"),
    Query("cms_heavy_hitters", cms_heavy_hitters, CMS_HEAVY_HITTERS_SQL,
          ("per_node_stats", "approx_distinct_nodes"),
          "count-min-sketch frequency estimates (derandomized md5 "
          "hashes -> the sketch ESTIMATE is hash-checkable) with an "
          "exact-count overestimate audit"),
    sql_query("skew_key_report", SKEW_KEY_REPORT_SQL,
              ("per_node_stats",),
              "join-key skew diagnosis: key cardinality + top-1/top-10 "
              "hot-key row shares (decides salting vs AQE skew split)"),
]
