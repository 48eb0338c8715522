"""The seasonal decomposition pair as keyed windows returns what the
aggregate-then-join-back texts returned. Both queries are single-sourced,
so their oracle is their own text; the join-back texts below are the
independent reference, kept verbatim."""

from __future__ import annotations

import datetime as dt

import pytest

from meshtastic_airsensor_database_spark.plans import REGISTRY
from meshtastic_airsensor_database_spark.plans.base import sql_builder

_JOIN_BACK_CTES = """hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_ts, AVG(value) AS v
  FROM events GROUP BY 1, 2
),
with_trend AS (
  SELECT event_type, hour_ts, v,
         CASE WHEN COUNT(*) OVER w = 25
              THEN AVG(v) OVER w END AS trend
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour_ts
               ROWS BETWEEN 12 PRECEDING
                        AND 12 FOLLOWING)
),
seasonal AS (
  SELECT event_type, hour(hour_ts) AS hod, AVG(v - trend) AS seasonal
  FROM with_trend GROUP BY 1, 2
)"""

JOIN_BACK_TEXTS = {
    "seasonal_decomposition": f"""
WITH {_JOIN_BACK_CTES}
SELECT /*+ BROADCAST(s) */ t.event_type,
       CAST(t.hour_ts AS TIMESTAMP) AS hour_ts,
       CAST(ROUND(CAST(t.v AS DECIMAL(38,9)), 4) AS DOUBLE) AS value,
       CAST(ROUND(CAST(t.trend AS DECIMAL(38,9)), 4) AS DOUBLE) AS trend,
       CAST(ROUND(CAST(s.seasonal AS DECIMAL(38,9)), 4) AS DOUBLE) AS seasonal,
       CAST(ROUND(CAST(t.v - t.trend - s.seasonal AS DECIMAL(38,9)), 4) AS DOUBLE) AS resid
FROM with_trend t
JOIN seasonal s ON t.event_type = s.event_type AND hour(t.hour_ts) = s.hod
""",
    "seasonal_anomaly_flags": f"""
WITH {_JOIN_BACK_CTES},
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
         CAST(ROUND(CAST(d.v AS DECIMAL(38,9)), 4) AS DOUBLE) AS value,
         CAST(ROUND(CAST(d.resid AS DECIMAL(38,9)), 4) AS DOUBLE) AS resid,
         CAST(ROUND(CAST(0.6745 * (d.resid - m.med) / x.mad AS DECIMAL(38,9)), 3) AS DOUBLE) AS robust_z
  FROM d JOIN med m USING (event_type) JOIN mad x USING (event_type)
  WHERE x.mad > 0
)
WHERE abs(robust_z) > 3.5
""",
}


@pytest.mark.parametrize("name", sorted(JOIN_BACK_TEXTS))
def test_seasonal_builders_match_join_back_texts_on_duckdb(sf_dir, hashes, name):
    on_spark, on_duckdb = hashes
    got = on_spark(REGISTRY[name].builder, sf_dir)
    assert got[0] > 0
    assert got == on_duckdb(JOIN_BACK_TEXTS[name], sf_dir)


@pytest.mark.parametrize("name", sorted(JOIN_BACK_TEXTS))
def test_seasonal_windows_frame_null_rows_like_the_join_back(events_dir, hashes, name):
    """A NULL-ts row sits in its type's trend window (it shifts the trend
    of the rows it frames) and is then dropped, as is a NULL-type row,
    on Spark, whose NULL ordering both texts share."""
    on_spark, _ = hashes
    t0 = dt.datetime(2024, 1, 1)
    rows = [(1, t0 + dt.timedelta(hours=h), (h % 24) * 1.5 + (h * 7 % 5), et)
            for h in range(60) for et in ("a", "b")]
    rows[41] = (1, rows[41][1], 90.0, "b")  # a spike the flags pick up
    rows += [(1, None, 100.0, "a"), (1, t0, 3.0, None)]
    sf = events_dir(rows)
    got = on_spark(REGISTRY[name].builder, sf)
    assert got[0] > 0
    assert got == on_spark(sql_builder(JOIN_BACK_TEXTS[name]), sf)
