"""Time-series operator tests (SURVEY §2.5, §2.3)."""

from __future__ import annotations

import datetime as dt

from meshtastic_airsensor_database_spark.operators.align import (
    asof_fill,
    latest_reading_per_node,
    sessionize,
    timeseries_align,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ts(minutes: float) -> dt.datetime:
    return T0 + dt.timedelta(minutes=minutes)


def _series(spark, rows):
    return spark.createDataFrame(rows, ["node", "ts", "value"])


def test_latest_reading(spark):
    df = _series(spark, [(1, _ts(0), 1.0), (1, _ts(10), 2.0), (2, _ts(5), 9.0)])
    out = {r.node: r for r in latest_reading_per_node(df, "node", "ts", "value").collect()}
    assert out[1].value == 2.0 and out[2].value == 9.0


def test_sessionize(spark):
    df = _series(
        spark,
        [(1, _ts(0), 0.0), (1, _ts(10), 0.0), (1, _ts(100), 0.0), (1, _ts(105), 0.0)],
    )
    sess = sessionize(df, "node", "ts", gap_seconds=1800)
    ids = [r.session_id for r in sess.orderBy("ts").collect()]
    assert ids == [1, 1, 2, 2]


def test_asof_fill_locf(spark):
    df = spark.createDataFrame(
        [(1, _ts(0), 5.0), (1, _ts(10), None), (1, _ts(20), None), (1, _ts(30), 7.0)],
        ["node", "ts", "value"],
    )
    out = [r.value_ff for r in asof_fill(df, "node", "ts", "value").orderBy("ts").collect()]
    assert out == [5.0, 5.0, 5.0, 7.0]


def test_timeseries_align_buckets(spark):
    a = _series(spark, [(1, _ts(0), 10.0), (1, _ts(2), 20.0)])
    b = _series(spark, [(1, _ts(1), 100.0)])
    out = timeseries_align({"a": a, "b": b}, "ts", "value", "5 minutes").collect()
    by_src = {r.source: r for r in out}
    assert by_src["a"].avg_value == 15.0 and by_src["a"].n == 2
    assert by_src["b"].avg_value == 100.0
    assert by_src["a"].bucket_ts == T0  # same shared bucket axis
    assert by_src["b"].bucket_ts == T0


def test_salted_collect_list_matches_plain(spark):
    """Salted two-phase list building returns the same multiset per key
    as plain collect_list (order aside), spread over n_salts tasks."""
    from collections import Counter

    from pyspark.sql import functions as F

    from meshtastic_airsensor_database_spark.operators.align import salted_collect_list

    rows = [(1, f"v{i % 7}") for i in range(200)] + [(2, "x")] + [(3, None)]
    df = spark.createDataFrame(rows, "k long, v string")
    salted = {
        r.k: Counter(r.v_list)
        for r in salted_collect_list(df, "k", "v", n_salts=8).collect()
    }
    plain = {
        r.k: Counter(r.vl)
        for r in df.groupBy("k").agg(F.collect_list("v").alias("vl")).collect()
    }
    assert salted == plain


def test_per_key_linear_trend_null_handling(spark):
    """Null ts or value rows are dropped (regr_slope NULL-pair
    semantics) instead of crashing the pandas epoch conversion; a key
    left with one point yields a null slope."""
    import datetime as dt

    from meshtastic_airsensor_database_spark.operators.align import (
        per_key_linear_trend,
    )

    t0 = dt.datetime(2025, 1, 1)
    rows = [
        (1, t0, 1.0),
        (1, t0 + dt.timedelta(hours=1), 3.0),
        (1, None, 99.0),           # null ts -> dropped (would be NaT)
        (1, t0 + dt.timedelta(hours=2), None),  # null value -> dropped
        (2, t0, 5.0),              # single surviving point -> null slope
        (2, None, 6.0),
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v double")
    out = {r.key: r for r in per_key_linear_trend(df, "k", "ts", "v").collect()}
    assert out[1].n == 2 and abs(out[1].slope_per_hour - 2.0) < 1e-9
    assert out[2].n == 1 and out[2].slope_per_hour is None


def test_asof_join_tolerance_staleness_bound(spark):
    """Backward inclusive match within tolerance; stale matches null
    out (all carry cols together); left rows never drop or duplicate."""
    import datetime as dt

    from meshtastic_airsensor_database_spark.operators.align import (
        asof_join_tolerance,
    )

    def t(s):
        return dt.datetime(2024, 1, 1, 0, 0, s)

    right = spark.createDataFrame(
        [(1, t(10), 100.0), (1, t(20), 200.0)],
        "user_id long, ts timestamp, v double",
    )
    left = spark.createDataFrame(
        [(1, 1, t(5)), (1, 2, t(20)), (1, 3, t(25)), (1, 4, t(55)), (2, 5, t(30))],
        "user_id long, event_id long, ts timestamp",
    )
    out = {
        r.event_id: r
        for r in asof_join_tolerance(
            left, right, "user_id", "ts", "ts", ["v"], 30
        ).collect()
    }
    assert len(out) == 5
    assert out[1].v is None  # no earlier right row
    assert out[2].v == 200.0  # exact-time match included (backward)
    assert out[3].v == 200.0 and out[3].matched_epoch == int(
        t(20).replace(tzinfo=dt.timezone.utc).timestamp()
    )
    assert out[4].v is None and out[4].matched_epoch is None  # 35s stale > 30s
    assert out[5].v is None  # key with no right rows survives
