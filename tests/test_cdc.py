"""sources/versioned.py — immutable snapshots: time travel, orphan
invisibility, version claiming, and expiry that keeps reachable
history."""

from __future__ import annotations


def test_snapshot_write_read_timetravel(spark, tmp_path):
    """Write two snapshots: latest reads v2, time travel reads v1, and
    an orphan (unpublished) directory is invisible to readers."""
    import os

    from meshtastic_airsensor_database_spark.sources.versioned import (
        latest_version,
        read_snapshot,
        snapshot_versions,
        write_snapshot,
    )

    path = str(tmp_path / "corpus")
    v1_df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], "id long, s string, v double"
    )
    assert write_snapshot(v1_df, path) == 1
    v2_df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "B", 2.0), (4, "d", 4.0)], "id long, s string, v double"
    )
    assert write_snapshot(v2_df, path) == 2
    assert snapshot_versions(path) == [1, 2]
    assert latest_version(path) == 2

    assert {r["id"] for r in read_snapshot(spark, path).collect()} == {1, 2, 4}
    assert {r["id"] for r in read_snapshot(spark, path, 1).collect()} == {1, 2, 3}

    # crashed writer: a v=3 directory with no _SUCCESS and no pointer
    # move is invisible — latest still v2, version list unchanged
    os.makedirs(os.path.join(path, "v=00003"))
    assert latest_version(path) == 2
    assert snapshot_versions(path) == [1, 2]
    # and the next writer claims v4, never colliding with the orphan
    assert write_snapshot(v1_df, path) == 4


def test_snapshot_expiry_keeps_reachable_history(spark, tmp_path):
    import pytest

    from meshtastic_airsensor_database_spark.sources.versioned import (
        expire_snapshots,
        read_snapshot,
        snapshot_versions,
        write_snapshot,
    )

    path = str(tmp_path / "corpus")
    for i in range(4):
        df = spark.range(i + 1).withColumnRenamed("id", "k")
        write_snapshot(df, path)
    assert snapshot_versions(path) == [1, 2, 3, 4]
    expired = expire_snapshots(path, keep_last=2)
    assert expired == [1, 2]
    assert snapshot_versions(path) == [3, 4]
    assert read_snapshot(spark, path).count() == 4  # latest untouched
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, path, 1)
