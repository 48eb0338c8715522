"""bucketed_range_join semantics: inner/left parity with a naive theta
join, null extension on the outer side, and rejection of interval-side
outer joins (whose bucket explode would duplicate unmatched
intervals)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from meshtastic_airsensor_database_spark.operators.intervals import (
    bucketed_range_join,
)


@pytest.fixture()
def pts_iv(spark):
    pts = spark.createDataFrame(
        [(1, 100, 10.0), (1, 7000, 11.0), (2, 120, 12.0), (3, 50, 13.0)],
        "user_id int, ts_s long, value double",
    ).withColumn("ts", F.timestamp_seconds("ts_s")).drop("ts_s")
    iv = spark.createDataFrame(
        [(1, 50, 150, "A"), (2, 100, 200, "B"), (9, 0, 10_000, "C")],
        "user_id int, s long, e long, interval_id string",
    ).select(
        "user_id",
        F.timestamp_seconds("s").alias("start_ts"),
        F.timestamp_seconds("e").alias("end_ts"),
        "interval_id",
    )
    return pts, iv


def test_inner_matches_naive_theta_join(pts_iv):
    pts, iv = pts_iv
    got = bucketed_range_join(
        pts, iv, "ts", "start_ts", "end_ts", on=["user_id"], bucket_seconds=60
    )
    naive = pts.alias("p").join(
        iv.alias("i"),
        (F.col("p.user_id") == F.col("i.user_id"))
        & (F.col("p.ts") >= F.col("i.start_ts"))
        & (F.col("p.ts") <= F.col("i.end_ts")),
    )
    assert got.count() == naive.count() == 2
    assert {r.interval_id for r in got.collect()} == {"A", "B"}


def test_left_join_null_extends_unmatched_points(pts_iv):
    pts, iv = pts_iv
    got = bucketed_range_join(
        pts, iv, "ts", "start_ts", "end_ts",
        on=["user_id"], bucket_seconds=60, how="left",
    )
    rows = {(r.user_id, r.value): r.interval_id for r in got.collect()}
    # every point survives; unmatched ones carry nulls, not get dropped
    assert len(rows) == 4
    assert rows[(1, 10.0)] == "A"
    assert rows[(2, 12.0)] == "B"
    assert rows[(1, 11.0)] is None  # outside every user-1 interval
    assert rows[(3, 13.0)] is None  # user has no intervals


def test_interval_side_outer_rejected(pts_iv):
    pts, iv = pts_iv
    with pytest.raises(ValueError, match="bucketed_range_join supports"):
        bucketed_range_join(
            pts, iv, "ts", "start_ts", "end_ts",
            on=["user_id"], bucket_seconds=60, how="right",
        )


def test_self_derived_sides_resolve_unambiguously(spark):
    """points and intervals derived from the SAME DataFrame (the exact
    shape interval_event_stats uses) must join on cross-side columns,
    not collapse into trivially-true same-side equality."""
    base = spark.createDataFrame(
        [(1, 100, 10.0), (1, 7000, 11.0)], "user_id int, ts_s long, value double"
    ).withColumn("ts", F.timestamp_seconds("ts_s")).drop("ts_s")
    iv = base.groupBy("user_id").agg(
        F.min("ts").alias("start_ts"),
        F.timestamp_seconds(F.min("ts").cast("long") + 120).alias("end_ts"),
    )
    got = bucketed_range_join(
        base, iv, "ts", "start_ts", "end_ts", on=["user_id"], bucket_seconds=60
    )
    # only the ts=100 point falls in [100, 220]; a trivially-true join
    # condition would also pass the ts=7000 point through
    assert [r.value for r in got.collect()] == [10.0]


def test_session_window_boundary_merges_at_exact_gap(spark):
    """F.session_window's session end is last_ts + gap and an event AT
    that boundary merges (break rule is diff > gap, not >=) — the
    semantics the session_window_stats oracle's island detection
    mirrors."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"),
         (1, "2024-01-01 00:30:00"),   # exactly gap after -> merges
         (1, "2024-01-01 01:30:01")],  # gap + 1s after -> new session
        "user_id int, s string",
    ).select("user_id", F.to_timestamp("s").alias("ts"))
    rows = (
        df.groupBy("user_id", F.session_window("ts", "1800 seconds"))
        .agg(F.count("*").alias("n"))
        .orderBy("session_window.start")
        .collect()
    )
    assert [r["n"] for r in rows] == [2, 1]
    assert str(rows[0]["session_window"]["end"]) == "2024-01-01 01:00:00"


def test_session_gaps_compare_microseconds(spark, events_dir, hashes):
    """Gaps of 1799.9, 1800.0, 1800.8 and 1801.2 s make 3 sessions:
    session_window merges a gap up to the gap exactly and splits
    anything longer. Flooring both ends to whole seconds reads the
    1800.8 s gap (04:00:00.0 -> 04:30:00.8 below) as 1800 and merges it.
    The session builders and their twins agree on it."""
    import datetime as dt

    from meshtastic_airsensor_database_spark.plans import REGISTRY

    on_spark, on_duckdb = hashes
    ts = [dt.datetime(2024, 1, 1, 3, 0, 0, 100000)]
    for gap_s in (1799.9, 1800.0, 1800.8, 1801.2):
        ts.append(ts[-1] + dt.timedelta(seconds=gap_s))
    sf = events_dir([(1, t, 1.0) for t in ts])
    for name in ("session_window_stats", "session_counts"):
        q = REGISTRY[name]
        assert on_spark(q.builder, sf) == on_duckdb(q.oracle, sf), name
    stats = REGISTRY["session_window_stats"].builder(spark, sf)
    assert sorted(r.n_events for r in stats.collect()) == [1, 1, 3]
    (counts,) = REGISTRY["session_counts"].builder(spark, sf).collect()
    assert (counts.n_sessions, counts.n_events) == (3, 5)
