"""Incremental rollup maintenance (streaming/rollup.py): associative
merge correctness, append-only epoch-named deltas, compaction, and the
finalize view.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from meshtastic_airsensor_database_spark.io_utils import load
from meshtastic_airsensor_database_spark.streaming.rollup import (
    DELTA_COL,
    ROLLUP_PARTITION_COL,
    _merge,
    _partials,
    compact_rollup,
    maintain_rollup,
    read_rollup,
)

KEYS = ["user_id", "event_type"]


def _direct(ev):
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour_ts"), *KEYS)
        .agg(
            F.avg("value").alias("avg_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.count("value").alias("n"),
        )
    )


def _as_sorted_rounded(df):
    rows = df.select(
        "hour_ts", *KEYS, F.round("avg_value", 6).alias("a"),
        F.round("min_value", 6).alias("mn"), F.round("max_value", 6).alias("mx"), "n"
    ).collect()
    return sorted(tuple(r) for r in rows)


def test_incremental_slices_equal_full_recompute(spark, sf_dir, tmp_path):
    """Four out-of-order micro-batch slices folded into the rollup must
    reproduce the one-pass aggregate exactly (associative merge)."""
    ev = load(spark, sf_dir, "events")
    path = str(tmp_path / "hourly")
    for i in range(4):
        maintain_rollup(ev.filter(F.pmod("event_id", F.lit(4)) == i), path, keys=KEYS)
    got = _as_sorted_rounded(read_rollup(spark, path, KEYS))
    want = _as_sorted_rounded(_direct(ev))
    assert got == want


def test_tagged_slices_with_random_replays_equal_full_recompute(
    spark, sf_dir, tmp_path
):
    """Property over the epoch-named deltas: a deterministic pseudo-
    random schedule of slice folds where EVERY fold is replayed 0-2
    extra times with ITS OWN tag (the crash-then-redeliver shape) must
    still reproduce the one-pass aggregate exactly. The replays must
    overwrite their own delta — with a fresh name per fold each extra
    fold would double-count its slice."""
    ev = load(spark, sf_dir, "events")
    path = str(tmp_path / "hourly_tagged")
    for i in range(4):
        batch = ev.filter(F.pmod("event_id", F.lit(4)) == i)
        # fold once + (i % 3) replays with the SAME tag — the
        # redelivery schedule is deterministic but varied per slice
        for _ in range(1 + (i % 3)):
            maintain_rollup(batch, path, keys=KEYS, epoch_tag=f"run0:{i}")
    got = _as_sorted_rounded(read_rollup(spark, path, KEYS))
    want = _as_sorted_rounded(_direct(ev))
    assert got == want


def test_read_merges_out_of_order_deltas_like_one_pass(spark, tmp_path):
    """read_rollup over N deltas folded out of order equals the finalize
    of _merge(_partials(all rows)), the HLL estimate included."""
    rows = [(i, (i // 3) % 5, i % 11, float(i % 13)) for i in range(200)]
    ev = spark.createDataFrame(rows, "event_id long, h int, user_id long, value double").select(
        "event_id",
        F.expr("timestamp '2024-01-01 22:00:00' + make_interval(0,0,0,0,h,0,0)").alias("ts"),
        (F.col("user_id") % 2).alias("event_type"),
        "user_id",
        "value",
    )
    path = str(tmp_path / "hourly")
    for i in (3, 0, 4, 1, 2):
        maintain_rollup(ev.filter(F.pmod("event_id", F.lit(5)) == i), path,
                        keys=["event_type"], distinct_col="user_id")
    leaves = spark.read.parquet(path).select(ROLLUP_PARTITION_COL, DELTA_COL).distinct()
    assert leaves.count() == 10  # 5 deltas x 2 dates (22:00 .. 02:00)

    def view(df):
        return sorted(
            (str(r["hour_ts"]), r["event_type"], r["n"], round(r["avg_value"], 9),
             r["min_value"], r["max_value"], r["distinct_est"])
            for r in df.collect()
        )

    one_pass = _merge(_partials(ev, ["event_type"], "ts", "value", "user_id"), ["event_type"])
    want = one_pass.select(
        "hour_ts", "event_type", (F.col("sum_value") / F.col("cnt")).alias("avg_value"),
        "min_value", "max_value", F.col("cnt").alias("n"),
        F.hll_sketch_estimate("distinct_sketch").alias("distinct_est"),
    )
    assert view(read_rollup(spark, path, ["event_type"])) == view(want)


def test_maintenance_rewrites_only_affected_date_partitions(spark, sf_dir, tmp_path):
    """A fold is a blind append: a batch whose events land in one date
    adds one delta leaf under that date and leaves every existing leaf
    (of that date and of every other) byte-identical."""
    ev = load(spark, sf_dir, "events")
    path = str(tmp_path / "hourly")
    dates = sorted(
        str(r[0]) for r in ev.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    assert len(dates) >= 2, "testdata spans one date; pick a different slice"
    d0, d1 = dates[0], dates[-1]

    first = maintain_rollup(ev, path, keys=KEYS)
    assert sorted(n for n in os.listdir(path) if "=" in n) == [
        f"{ROLLUP_PARTITION_COL}={d}" for d in dates
    ]

    def leaf_files(date):
        pdir = os.path.join(path, f"{ROLLUP_PARTITION_COL}={date}")
        return {
            os.path.join(leaf, name): os.path.getmtime(os.path.join(pdir, leaf, name))
            for leaf in os.listdir(pdir)
            for name in os.listdir(os.path.join(pdir, leaf))
            if name.endswith(".parquet")
        }

    before_d0 = leaf_files(d0)
    before_d1 = leaf_files(d1)

    late = ev.filter(F.to_date("ts") == F.lit(d1)).limit(50)
    second = maintain_rollup(late, path, keys=KEYS)
    assert second != first and second[0] == "b" and first[0] == "b"
    assert leaf_files(d0) == before_d0  # untouched date: same files
    after_d1 = leaf_files(d1)
    assert {k: v for k, v in after_d1.items() if k in before_d1} == before_d1
    assert {k.split(os.sep)[0] for k in after_d1 if k not in before_d1} == {
        f"{DELTA_COL}={second}"
    }


def test_null_event_ts_rows_never_reach_the_rollup(spark, sf_dir, tmp_path):
    """Null event times are excluded on EVERY maintenance path (r8
    ADVICE): their partials would land in __HIVE_DEFAULT_PARTITION__, a
    date no reader or compaction can name. A mixed batch must fold only
    its timestamped rows, create no default partition, and an ALL-null
    batch must be a no-op."""
    ev = load(spark, sf_dir, "events").limit(400)
    nullify = F.when(F.pmod("event_id", F.lit(3)) == 0, None).otherwise(F.col("ts"))
    mixed = ev.withColumn("ts", nullify)
    path = str(tmp_path / "hourly")

    maintain_rollup(mixed, path, keys=KEYS)
    assert not any("__HIVE_DEFAULT_PARTITION__" in n for n in os.listdir(path))
    want = _as_sorted_rounded(_direct(mixed.filter(F.col("ts").isNotNull())))
    assert _as_sorted_rounded(read_rollup(spark, path, KEYS)) == want

    # ALL-null batch: no delta, stored state unchanged
    listing = sorted(os.listdir(path))
    maintain_rollup(mixed.withColumn("ts", F.lit(None).cast("timestamp")), path, keys=KEYS)
    assert sorted(os.listdir(path)) == listing
    assert _as_sorted_rounded(read_rollup(spark, path, KEYS)) == want

    # the streaming path (epoch tag) excludes them identically —
    # re-folding the SAME mixed batch under a tag doubles only the
    # timestamped rows
    maintain_rollup(mixed, path, keys=KEYS, epoch_tag="r:1")
    doubled = _as_sorted_rounded(read_rollup(spark, path, KEYS))
    assert [r[-1] for r in doubled] == [2 * r[-1] for r in want]


def test_empty_batch_is_noop(spark, sf_dir, tmp_path):
    ev = load(spark, sf_dir, "events")
    path = str(tmp_path / "hourly")
    maintain_rollup(ev, path, keys=KEYS)
    want = _as_sorted_rounded(read_rollup(spark, path, KEYS))
    listing = sorted(os.listdir(path))
    maintain_rollup(ev.filter(F.lit(False)), path, keys=KEYS)
    assert sorted(os.listdir(path)) == listing
    assert _as_sorted_rounded(read_rollup(spark, path, KEYS)) == want


def test_rollup_read_merge_is_partition_pruned(spark, sf_dir, tmp_path):
    """A date filter over the delta layout must reach PartitionFilters:
    at scale a dashboard reading one day never lists the other dates'
    deltas."""
    import re

    ev = load(spark, sf_dir, "events")
    path = str(tmp_path / "hourly")
    maintain_rollup(ev, path, keys=KEYS)
    maintain_rollup(ev.limit(20), path, keys=KEYS)
    some_date = ev.select(F.to_date("ts")).first()[0]
    read = spark.read.parquet(path).filter(
        F.col(ROLLUP_PARTITION_COL).isin([some_date])
    )
    plan = read._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert re.search(rf"PartitionFilters: \[[^\]]*{ROLLUP_PARTITION_COL}", plan), plan


def _leaves(path):
    return {
        d.split("=", 1)[1]: sorted(
            leaf.split("=", 1)[1]
            for leaf in os.listdir(os.path.join(path, d))
            if leaf.startswith(DELTA_COL + "=")
        )
        for d in os.listdir(path)
        if d.startswith(ROLLUP_PARTITION_COL + "=")
    }


def test_compaction_folds_deltas_and_keeps_the_replayable_one(spark, sf_dir, tmp_path):
    """compact_rollup folds each date's deltas into one leaf, keeps each
    run's newest epoch delta apart, serves the same rows, hides its
    staging from readers, and a replay of that newest epoch after
    compaction still overwrites its own leaf (no double count)."""
    ev = load(spark, sf_dir, "events")
    path = str(tmp_path / "hourly")
    slices = [ev.filter(F.pmod("event_id", F.lit(4)) == i) for i in range(4)]
    maintain_rollup(slices[0], path, keys=KEYS)              # untagged
    for epoch in (1, 2, 10):                                 # run "a"
        maintain_rollup(slices[epoch % 4], path, keys=KEYS, epoch_tag=f"a:{epoch}")
    want = _as_sorted_rounded(read_rollup(spark, path, KEYS))
    before = _leaves(path)
    assert max(map(len, before.values())) == 4

    rep = compact_rollup(spark, path)
    after = _leaves(path)
    assert rep.dates_scanned == len(before)
    assert rep.dates_compacted == len(before)
    assert rep.max_deltas_before == 4 and rep.max_deltas_after == 2
    assert rep.deltas_kept_for_replay == sum("ea-10" in t for t in before.values())
    for d, tags in after.items():
        assert len(tags) == 2 and "ea-10" in tags and tags[0][0] == "c", tags
    assert not [n for n in os.listdir(path) if n.startswith(".")]
    assert _as_sorted_rounded(read_rollup(spark, path, KEYS)) == want

    # idempotent: nothing left to fold
    rep2 = compact_rollup(spark, path)
    assert rep2.dates_compacted == 0 and _leaves(path) == after

    # the crashed stream replays its newest epoch: same leaf, same view
    maintain_rollup(slices[10 % 4], path, keys=KEYS, epoch_tag="a:10")
    assert _as_sorted_rounded(read_rollup(spark, path, KEYS)) == want


def test_compaction_recovers_a_crashed_date_swap(spark, tmp_path):
    """A kill between the date swap's two renames leaves the date only
    in its hidden trash — invisible to readers, never read as a date;
    the next compaction finishes the swap before listing."""
    rows = [(f"2024-05-0{d} 0{h}:00:00", float(d + h)) for d in (1, 2) for h in (1, 2)]
    ev = spark.createDataFrame(rows, "s string, value double").select(
        F.to_timestamp("s").alias("ts"), "value"
    )
    path = str(tmp_path / "hourly")
    for h in (1, 2):
        maintain_rollup(ev.filter(F.hour("ts") == h), path, keys=[])
    want = sorted(tuple(r) for r in read_rollup(spark, path, []).collect())
    date_dir = os.path.join(path, f"{ROLLUP_PARTITION_COL}=2024-05-01")
    os.rename(date_dir, os.path.join(path, f".{ROLLUP_PARTITION_COL}=2024-05-01.compact-trash"))
    assert len(read_rollup(spark, path, []).collect()) == 2  # only the other date

    rep = compact_rollup(spark, path)
    assert rep.dates_scanned == 2 and rep.dates_compacted == 2
    assert sorted(os.listdir(path)) == [
        f"{ROLLUP_PARTITION_COL}=2024-05-01", f"{ROLLUP_PARTITION_COL}=2024-05-02"
    ]
    assert sorted(tuple(r) for r in read_rollup(spark, path, []).collect()) == want


def test_sketch_maintenance_slice_order_independent(spark, tmp_path):
    import pyspark.sql.functions as F

    from meshtastic_airsensor_database_spark.streaming.rollup import (
        maintain_rollup,
        read_rollup,
    )

    rows = [
        # (event_id, hour offset, user, value); users repeat across slices
        (i, i % 3, i % 7, float(i)) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "event_id long, h int, user_id long, value double").select(
        "event_id",
        F.expr("timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,h,0,0)").alias("ts"),
        "user_id",
        "value",
    )
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    # maintain from 3 interleaved slices vs one shot
    for i in range(3):
        maintain_rollup(df.filter(F.col("event_id") % 3 == i), p1, keys=[], distinct_col="user_id")
    maintain_rollup(df, p2, keys=[], distinct_col="user_id")
    a = {r["hour_ts"]: (r["distinct_est"], r["n"]) for r in read_rollup(spark, p1, []).collect()}
    b = {r["hour_ts"]: (r["distinct_est"], r["n"]) for r in read_rollup(spark, p2, []).collect()}
    assert a == b
    # sparse regime: estimates are exact
    exact = {
        r["hour_ts"]: r["d"]
        for r in df.groupBy(F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    assert {h: v[0] for h, v in a.items()} == exact


def test_serve_series_stats_routes_to_rollup_and_matches_raw(spark, tmp_path):
    """Day-grain series served from the hourly rollup must equal the
    raw-fact recompute EXACTLY, and the served plan must not list one
    raw-fact file; a sub-hour grain falls back to facts."""
    from meshtastic_airsensor_database_spark.streaming.rollup import (
        maintain_rollup,
        serve_series_stats,
    )

    facts_path = str(tmp_path / "facts")
    rollup_path = str(tmp_path / "rollup")
    rows = []
    for d in (1, 2):
        for h in (0, 1, 5):
            for u in (7, 8):
                rows.append((f"2024-02-0{d} 0{h}:15:00", u, float(d * 10 + h + u)))
                rows.append((f"2024-02-0{d} 0{h}:45:00", u, float(d + h)))
    facts = spark.createDataFrame(rows, "s string, user_id long, value double").select(
        F.to_timestamp("s").alias("ts"), "user_id", "value"
    )
    facts.write.parquet(facts_path)
    # fold in as two out-of-order slices (the maintenance path, not a
    # one-shot build)
    stored = spark.read.parquet(facts_path)
    maintain_rollup(stored.filter(F.dayofmonth("ts") == 2), rollup_path, keys=["user_id"])
    maintain_rollup(stored.filter(F.dayofmonth("ts") == 1), rollup_path, keys=["user_id"])

    served, source = serve_series_stats(
        spark, facts_path, rollup_path, keys=["user_id"], grain="day"
    )
    assert source == "rollup"
    assert all("rollup" in f for f in served.inputFiles())  # zero fact files

    direct = (
        stored.groupBy(F.date_trunc("day", "ts").alias("bucket_ts"), "user_id")
        .agg(
            F.avg("value").alias("avg_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.count("value").alias("n"),
        )
    )

    def key(df):
        return {
            (str(r["bucket_ts"]), r["user_id"]): (
                round(r["avg_value"], 9), r["min_value"], r["max_value"], r["n"]
            )
            for r in df.collect()
        }

    assert key(served) == key(direct)

    _, source_min = serve_series_stats(
        spark, facts_path, rollup_path, keys=["user_id"], grain="minute"
    )
    assert source_min == "facts"


def test_serve_series_merges_distinct_sketches_to_grain(spark, tmp_path):
    """A sketch-bearing rollup served at day grain must union the
    hourly HLL sketches — the estimate equals a single-pass sketch of
    the raw rows' users for that day (identical sketch algebra), while
    still reading zero fact files."""
    from meshtastic_airsensor_database_spark.streaming.rollup import (
        maintain_rollup,
        serve_series_stats,
    )

    facts_path = str(tmp_path / "facts")
    rollup_path = str(tmp_path / "rollup")
    rows = []
    for h in (0, 1, 2):
        for u in range(20):
            rows.append((f"2024-03-01 0{h}:10:00", (h * 7 + u) % 30, 1.0))
    facts = spark.createDataFrame(rows, "s string, user_id long, value double").select(
        F.to_timestamp("s").alias("ts"), "user_id", "value"
    )
    facts.write.parquet(facts_path)
    stored = spark.read.parquet(facts_path)
    maintain_rollup(stored, rollup_path, keys=[], distinct_col="user_id")

    served, source = serve_series_stats(
        spark, facts_path, rollup_path, keys=[], grain="day"
    )
    assert source == "rollup"
    assert all("rollup" in f for f in served.inputFiles())
    got = served.collect()
    assert len(got) == 1
    direct = stored.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("d")
    ).first()["d"]
    assert got[0]["distinct_est"] == direct
