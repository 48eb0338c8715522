"""Small-file compaction tests (sources/maintenance.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from meshtastic_airsensor_database_spark.sources.maintenance import (
    compact_partitions,
)


def _files_of(base: str, part: str) -> set[str]:
    d = os.path.join(base, part)
    return {f for f in os.listdir(d) if f.endswith(".parquet")}


def test_compaction_rewrites_only_degenerate_partitions(spark, tmp_path):
    path = str(tmp_path / "facts")
    # two fragmented partitions (8 tiny files each), one healthy
    frag = spark.range(2000).select(
        F.col("id"),
        (F.col("id") % 2).cast("string").alias("d"),
        (F.col("id") * 2).alias("v"),
    )
    frag.repartition(8).write.partitionBy("d").parquet(path)
    healthy = spark.range(2000, 3000).select(
        F.col("id"), F.lit("9").alias("d"), (F.col("id") * 2).alias("v")
    )
    healthy.coalesce(1).write.mode("append").partitionBy("d").parquet(path)

    assert len(_files_of(path, "d=0")) == 8
    assert len(_files_of(path, "d=1")) == 8
    healthy_before = _files_of(path, "d=9")
    assert len(healthy_before) == 1

    before = sorted(
        tuple(r) for r in spark.read.parquet(path).select("id", "v", "d").collect()
    )

    report = compact_partitions(spark, path, "d", target_mb=256, small_file_mb=1.0)
    assert report.partitions_total == 3
    assert report.partitions_compacted == 2
    assert report.files_before == 17

    # fragmented partitions collapsed to one target-sized file each
    assert len(_files_of(path, "d=0")) == 1
    assert len(_files_of(path, "d=1")) == 1
    # the healthy partition was not rewritten — same physical files
    assert _files_of(path, "d=9") == healthy_before
    assert report.files_after == 3

    # content identical
    after = sorted(
        tuple(r) for r in spark.read.parquet(path).select("id", "v", "d").collect()
    )
    assert after == before

    # idempotent: a second run finds nothing to do
    report2 = compact_partitions(spark, path, "d", target_mb=256, small_file_mb=1.0)
    assert report2.partitions_compacted == 0
    assert report2.files_after == report2.files_before == 3


def test_compaction_noop_on_healthy_table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    spark.range(100).select(
        F.col("id"), F.lit("a").alias("d")
    ).coalesce(1).write.partitionBy("d").parquet(path)
    files = _files_of(path, "d=a")
    report = compact_partitions(spark, path, "d", small_file_mb=1.0)
    assert report.partitions_compacted == 0
    assert _files_of(path, "d=a") == files


def test_compaction_and_erasure_keep_every_partition_dir_in_place(spark, tmp_path):
    """Dir values that typed partition discovery would not write back —
    the null dir (``__HIVE_DEFAULT_PARTITION__``, where ingest keeps
    null-``event_ts`` facts), ``d=01`` (inferred as 1, written as
    ``d=1``) and an escaped name (``a:1`` lives in ``d=a%3A1``) — are
    compacted in place with every row kept; an erasure removes exactly
    the subject's rows from the null dir, and one that empties the
    escaped dir removes that dir."""
    from meshtastic_airsensor_database_spark.sources.maintenance import erase_key

    path = str(tmp_path / "t")
    spark.range(300).select(
        F.col("id"),
        F.when(F.col("id") % 3 == 0, F.lit(None))
        .when(F.col("id") % 3 == 1, "01")
        .otherwise("a:1")
        .alias("d"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
    ).repartition(4).write.partitionBy("d").parquet(path)
    dirs = ["d=01", "d=__HIVE_DEFAULT_PARTITION__", "d=a%3A1"]
    assert sorted(n for n in os.listdir(path) if n.startswith("d=")) == dirs
    before = sorted(r.id for r in spark.read.parquet(path).collect())

    rep = compact_partitions(spark, path, "d", small_file_mb=1.0)
    assert rep.partitions_compacted == 3 and rep.files_after == 3
    assert sorted(n for n in os.listdir(path) if n.startswith("d=")) == dirs
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == before

    rep = erase_key(spark, path, "d", "id", 3)  # id 3 sits in the null dir
    assert (rep.rows_deleted, rep.fact_partitions_rewritten) == (1, 1)
    rep = erase_key(spark, path, "d", "d", "a:1")
    assert (rep.rows_deleted, rep.fact_partitions_removed) == (100, 1)
    assert sorted(n for n in os.listdir(path) if n.startswith("d=")) == dirs[:2]
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == [
        i for i in before if i != 3 and i % 3 != 2
    ]


def test_rewrite_refuses_to_empty_a_dir_unless_asked(spark, tmp_path):
    """A listed value that stages no rows raises before any swap (a
    compaction never empties a partition, so an empty one is a bug that
    would delete data), and every dir is left as it was; with
    ``drop_empty`` (erasure) the dir is removed."""
    from meshtastic_airsensor_database_spark.io_utils import (
        read_partitions,
        rewrite_dirs,
    )

    path = str(tmp_path / "t")
    spark.range(20).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("d")
    ).repartition(2).write.partitionBy("d").parquet(path)
    files = _files_of(path, "d=0")
    rows = read_partitions(spark, path, "d", ["0", "1"]).filter(F.col("d") == "1")
    with pytest.raises(RuntimeError, match="no rows staged"):
        rewrite_dirs(rows, path, ("d",), ["0", "1"])
    assert _files_of(path, "d=0") == files
    assert sorted(
        n for n in os.listdir(path) if os.path.isdir(os.path.join(path, n))
    ) == ["d=0", "d=1"]

    assert rewrite_dirs(rows, path, ("d",), ["0", "1"], drop_empty=True) == ["1"]
    assert not os.path.exists(os.path.join(path, "d=0"))
    assert spark.read.parquet(path).count() == 10


def _erasure_fixture(spark, tmp_path):
    """Partitioned facts for three users; user 7 owns ALL of date
    2024-01-03 (the full-partition edge) and parts of 01 and 02."""
    from meshtastic_airsensor_database_spark.streaming.rollup import (
        maintain_rollup,
    )

    fact_path = str(tmp_path / "facts")
    rollup_path = str(tmp_path / "rollup")
    rows = []
    for day, hour, user, value in [
        (1, 0, 7, 1.0), (1, 0, 8, 2.0), (1, 5, 9, 3.0),
        (2, 3, 7, 4.0), (2, 3, 8, 5.0),
        (3, 1, 7, 6.0), (3, 2, 7, 7.0),   # date wholly owned by user 7
        (4, 6, 8, 8.0), (4, 7, 9, 9.0),
    ]:
        rows.append((f"2024-01-0{day} 0{hour}:00:00", user, value))
    facts = spark.createDataFrame(rows, "s string, user_id long, value double").select(
        F.to_timestamp("s").alias("ts"),
        "user_id",
        "value",
        F.to_date(F.to_timestamp("s")).alias("event_date"),
    )
    facts.write.partitionBy("event_date").parquet(fact_path)
    maintain_rollup(
        spark.read.parquet(fact_path), rollup_path, keys=["user_id"]
    )
    return fact_path, rollup_path


def test_erase_key_rewrites_only_affected_partitions(spark, tmp_path):
    from meshtastic_airsensor_database_spark.sources.maintenance import erase_key

    fact_path, rollup_path = _erasure_fixture(spark, tmp_path)
    untouched_before = _files_of(fact_path, "event_date=2024-01-04")

    rep = erase_key(
        spark, fact_path, "event_date", "user_id", 7,
        rollup_path=rollup_path, rollup_keys=["user_id"],
    )
    assert rep.rows_deleted == 4
    assert rep.fact_partitions_total == 4
    assert rep.fact_partitions_rewritten == 2      # 01 and 02 keep rows
    assert rep.fact_partitions_removed == 1        # 03 was wholly user 7's
    assert rep.rollup_mode == "row-drop"

    post = spark.read.parquet(fact_path)
    assert post.filter(F.col("user_id") == 7).count() == 0
    assert post.count() == 5                        # everyone else intact
    assert not os.path.isdir(os.path.join(fact_path, "event_date=2024-01-03"))
    # the unaffected partition's files were never rewritten
    assert _files_of(fact_path, "event_date=2024-01-04") == untouched_before

    # rollup no longer mentions the subject and equals a from-scratch
    # rebuild over the post-erasure facts
    from meshtastic_airsensor_database_spark.streaming.rollup import (
        _merge, _partials,
    )

    roll = spark.read.parquet(rollup_path)
    assert roll.filter(F.col("user_id") == 7).count() == 0
    expected = {
        (str(r["hour_ts"]), r["user_id"], r["sum_value"], r["cnt"])
        for r in _merge(_partials(post, ["user_id"], "ts", "value"), ["user_id"]).collect()
    }
    got = {
        (str(r["hour_ts"]), r["user_id"], r["sum_value"], r["cnt"])
        for r in roll.collect()
    }
    assert got == expected


def test_erase_key_rebuild_mode_and_idempotency(spark, tmp_path):
    """When the rollup is NOT keyed by the subject, affected dates are
    rebuilt from post-erasure facts (sketch/min-max partials are not
    retractable); a second erase is a no-op."""
    from meshtastic_airsensor_database_spark.sources.maintenance import erase_key
    from meshtastic_airsensor_database_spark.streaming.rollup import (
        _merge, _partials, maintain_rollup,
    )

    fact_path, _ = _erasure_fixture(spark, tmp_path)
    rollup_path = str(tmp_path / "rollup_global")
    maintain_rollup(spark.read.parquet(fact_path), rollup_path, keys=[])

    rep = erase_key(
        spark, fact_path, "event_date", "user_id", 7,
        rollup_path=rollup_path, rollup_keys=[],
    )
    assert rep.rollup_mode == "rebuild"
    post = spark.read.parquet(fact_path)
    roll = spark.read.parquet(rollup_path)
    expected = {
        (str(r["hour_ts"]), r["sum_value"], r["cnt"], r["min_value"], r["max_value"])
        for r in _merge(_partials(post, [], "ts", "value"), []).collect()
    }
    got = {
        (str(r["hour_ts"]), r["sum_value"], r["cnt"], r["min_value"], r["max_value"])
        for r in roll.collect()
    }
    assert got == expected

    # a COMPLETED erase clears its intent marker, so a later re-run is a
    # genuine no-op (recovery finds no pending intent, the subject scan
    # finds no rows)
    from meshtastic_airsensor_database_spark.sources.maintenance import (
        _erase_marker_path,
    )

    assert not os.path.exists(_erase_marker_path(fact_path))
    rep2 = erase_key(
        spark, fact_path, "event_date", "user_id", 7,
        rollup_path=rollup_path, rollup_keys=[],
    )
    assert rep2.rows_deleted == 0 and rep2.fact_partitions_rewritten == 0
    assert rep2.rollup_mode == "none"


@pytest.mark.parametrize("keys, mode", [(["user_id"], "row-drop"), ([], "rebuild")])
def test_erase_key_over_rollup_deltas(spark, tmp_path, keys, mode):
    """Dates holding two deltas, one of them owned wholly by the
    subject: each touched date dir is swapped whole, so that leaf goes
    (a dynamic overwrite by date could not remove it), the date the
    subject owned goes, no date mixes directory depths, untouched
    dates keep their files, and the merged view equals a recompute
    over the post-erasure facts."""
    from meshtastic_airsensor_database_spark.sources.maintenance import erase_key
    from meshtastic_airsensor_database_spark.streaming.rollup import (
        maintain_rollup, read_rollup,
    )

    fact_path, _ = _erasure_fixture(spark, tmp_path)
    rollup_path = str(tmp_path / "rollup_deltas")
    facts = spark.read.parquet(fact_path)
    subject = F.col("user_id") == 7
    maintain_rollup(facts.filter(~subject), rollup_path, keys=keys, epoch_tag="r:1")
    maintain_rollup(facts.filter(subject), rollup_path, keys=keys, epoch_tag="r:2")
    leaves = {
        d: sorted(os.listdir(os.path.join(rollup_path, d)))
        for d in os.listdir(rollup_path)
    }
    assert leaves["rollup_date=2024-01-01"] == ["rollup_delta=er-1", "rollup_delta=er-2"]
    untouched = _files_of(rollup_path, "rollup_date=2024-01-04/rollup_delta=er-1")

    rep = erase_key(
        spark, fact_path, "event_date", "user_id", 7,
        rollup_path=rollup_path, rollup_keys=keys,
    )
    assert rep.rollup_mode == mode
    dates = sorted(n for n in os.listdir(rollup_path) if not n.startswith(("_", ".")))
    assert dates == ["rollup_date=2024-01-01", "rollup_date=2024-01-02",
                     "rollup_date=2024-01-04"]
    assert not [n for n in os.listdir(rollup_path) if n.startswith(".")]
    for d in dates:
        children = [c for c in os.listdir(os.path.join(rollup_path, d))
                    if not c.startswith(("_", "."))]
        assert children and all(c.startswith("rollup_delta=") for c in children), children
        assert "rollup_delta=er-2" not in children
    assert _files_of(rollup_path, "rollup_date=2024-01-04/rollup_delta=er-1") == untouched

    post = spark.read.parquet(fact_path)
    scratch = str(tmp_path / "rollup_scratch")
    maintain_rollup(post, scratch, keys=keys)

    def view(path):
        return sorted(tuple(r) for r in read_rollup(spark, path, keys).collect())

    assert view(rollup_path) == view(scratch)


def _rollup_state(spark, rollup_path):
    return {
        (str(r["hour_ts"]), r["sum_value"], r["cnt"], r["min_value"], r["max_value"])
        for r in spark.read.parquet(rollup_path).collect()
    }


def test_erase_key_crash_between_phases_recovers(spark, tmp_path, monkeypatch):
    """r10 verdict #2: a crash AFTER the fact rewrite but BEFORE the
    rollup repair used to leave the erased subject's contribution in
    the rollup forever (the retry found zero subject rows and skipped
    the repair). The intent marker makes a plain re-run complete the
    repair from the recorded touched_dates."""
    import pytest

    import meshtastic_airsensor_database_spark.sources.maintenance as m
    from meshtastic_airsensor_database_spark.streaming.rollup import (
        _merge, _partials, maintain_rollup,
    )

    fact_path, _ = _erasure_fixture(spark, tmp_path)
    rollup_path = str(tmp_path / "rollup_global")
    maintain_rollup(spark.read.parquet(fact_path), rollup_path, keys=[])
    before = _rollup_state(spark, rollup_path)

    def _killed(*a, **k):
        raise RuntimeError("killed between phase 2 and phase 3")

    monkeypatch.setattr(m, "_repair_rollup", _killed)
    with pytest.raises(RuntimeError, match="killed between"):
        m.erase_key(
            spark, fact_path, "event_date", "user_id", 7,
            rollup_path=rollup_path, rollup_keys=[],
        )
    monkeypatch.undo()

    # the crash state: facts erased, rollup untouched, intent pending
    post = spark.read.parquet(fact_path)
    assert post.filter(F.col("user_id") == 7).count() == 0
    assert _rollup_state(spark, rollup_path) == before
    assert os.path.exists(m._erase_marker_path(fact_path))

    # a PLAIN re-run (what an operator does after a crash) completes
    # the rollup repair even though zero subject fact rows remain
    rep = m.erase_key(
        spark, fact_path, "event_date", "user_id", 7,
        rollup_path=rollup_path, rollup_keys=[],
    )
    assert rep.rows_deleted == 0 and rep.rollup_mode == "none"  # recovery did it
    assert not os.path.exists(m._erase_marker_path(fact_path))
    expected = {
        (str(r["hour_ts"]), r["sum_value"], r["cnt"], r["min_value"], r["max_value"])
        for r in _merge(_partials(post, [], "ts", "value"), []).collect()
    }
    assert _rollup_state(spark, rollup_path) == expected
    # the date wholly owned by the subject is gone from the rollup too
    assert not os.path.isdir(
        os.path.join(rollup_path, "rollup_date=2024-01-03")
    ) or spark.read.parquet(rollup_path).filter(
        F.to_date("hour_ts") == "2024-01-03"
    ).count() == 0


def test_erase_key_crash_before_fact_rewrite_recovers(spark, tmp_path, monkeypatch):
    """Crash with the marker written but the fact rewrite unfinished:
    the re-run's recovery re-locates the still-present subject rows,
    erases them, and repairs the rollup — full convergence from the
    earliest crash point."""
    import pytest

    import meshtastic_airsensor_database_spark.sources.maintenance as m
    from meshtastic_airsensor_database_spark.streaming.rollup import maintain_rollup

    fact_path, _ = _erasure_fixture(spark, tmp_path)
    rollup_path = str(tmp_path / "rollup_global")
    maintain_rollup(spark.read.parquet(fact_path), rollup_path, keys=[])

    def _killed(*a, **k):
        raise RuntimeError("killed before the fact rewrite")

    monkeypatch.setattr(m, "_rewrite_partitions_without", _killed)
    with pytest.raises(RuntimeError, match="killed before"):
        m.erase_key(
            spark, fact_path, "event_date", "user_id", 7,
            rollup_path=rollup_path, rollup_keys=[],
        )
    monkeypatch.undo()
    assert spark.read.parquet(fact_path).filter(F.col("user_id") == 7).count() == 4
    assert os.path.exists(m._erase_marker_path(fact_path))

    # recovery alone (no new erase call) completes the whole erasure
    rep = m.recover_erasure(spark, fact_path)
    assert rep is not None and rep.rows_deleted == 4
    assert rep.rollup_mode == "rebuild"
    assert not os.path.exists(m._erase_marker_path(fact_path))
    post = spark.read.parquet(fact_path)
    assert post.filter(F.col("user_id") == 7).count() == 0
    assert m.recover_erasure(spark, fact_path) is None  # nothing pending


def test_erase_key_rebuild_preserves_distinct_sketch(spark, tmp_path):
    """r4-ADVICE fix: a rollup maintained WITH an HLL distinct sketch
    must be rebuilt WITH it — erase_key threads distinct_col through to
    the rebuild partials, and fails loudly when the caller omits it."""
    import pytest

    from meshtastic_airsensor_database_spark.sources.maintenance import erase_key
    from meshtastic_airsensor_database_spark.streaming.rollup import maintain_rollup

    fact_path, _ = _erasure_fixture(spark, tmp_path)
    rollup_path = str(tmp_path / "rollup_sketch")
    maintain_rollup(
        spark.read.parquet(fact_path), rollup_path, keys=[],
        distinct_col="user_id",
    )
    assert "distinct_sketch" in spark.read.parquet(rollup_path).columns

    # omitting distinct_col must refuse rather than silently drop it
    with pytest.raises(ValueError, match="distinct_sketch"):
        erase_key(
            spark, fact_path, "event_date", "user_id", 7,
            rollup_path=rollup_path, rollup_keys=[],
        )

    rep = erase_key(
        spark, fact_path, "event_date", "user_id", 7,
        rollup_path=rollup_path, rollup_keys=[],
        distinct_col="user_id",
    )
    assert rep.rollup_mode == "rebuild"
    roll = spark.read.parquet(rollup_path)
    # no schema drift: every rewritten date partition still carries the
    # sketch column, with no NULL sketches anywhere
    assert "distinct_sketch" in roll.columns
    assert roll.filter(F.col("distinct_sketch").isNull()).count() == 0
    # the rebuilt estimate excludes the erased subject: the wholly-owned
    # 2024-01-03 date vanished; mixed dates estimate only users 8/9
    est = roll.select(
        F.col("hour_ts"),
        F.hll_sketch_estimate("distinct_sketch").alias("est"),
    )
    assert est.filter(F.col("est") <= 0).count() == 0
    assert est.agg(F.max("est")).collect()[0][0] <= 2  # user 7 is gone


def test_maintain_commands_never_set_partition_overwrite_mode(
    spark, tmp_path, monkeypatch, capsys
):
    """Every maintain command rewrites through io_utils.rewrite_dirs'
    staged swaps: none sets or unsets the session's
    partitionOverwriteMode (a toggled session conf changes the
    overwrite semantics of every other writer of the session), and each
    one here does rewrite something, so the check is not vacuous."""
    import json

    from pyspark.sql.conf import RuntimeConfig

    from meshtastic_airsensor_database_spark.cli.maintain import main as mmain
    from meshtastic_airsensor_database_spark.operators.decon_index import (
        build_decon_index,
        extend_decon_index,
    )
    from meshtastic_airsensor_database_spark.streaming.rollup import maintain_rollup

    facts = str(tmp_path / "frag")
    spark.range(200).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("d")
    ).repartition(4).write.partitionBy("d").parquet(facts)
    fact_path, rollup_path = _erasure_fixture(spark, tmp_path)
    maintain_rollup(spark.read.parquet(fact_path), rollup_path, keys=["user_id"])
    idx = str(tmp_path / "decon_idx")
    emb = "vec_id long, embedding array<double>"
    build_decon_index(spark.createDataFrame([(1, [1.0, 0.0])], emb), idx)
    extend_decon_index(spark.createDataFrame([(2, [0.0, 1.0])], emb), idx)
    vectors = str(tmp_path / "ivf" / "vectors")
    spark.createDataFrame(
        [(10, 0), (11, 0), (12, 1)], "vec_id long, cluster int"
    ).write.partitionBy("cluster").parquet(vectors)

    touched = []
    for name in ("set", "unset"):
        def spy(self, key, *args, _orig=getattr(RuntimeConfig, name)):
            touched.append(key)
            return _orig(self, key, *args)

        monkeypatch.setattr(RuntimeConfig, name, spy)
    capsys.readouterr()
    for argv in (
        ["compact-partitions", facts, "--partition-by", "d", "--small-file-mb", "1"],
        ["compact-rollup", rollup_path],
        ["compact-index", idx],
        ["erase-key", fact_path, "--partition-by", "event_date",
         "--key-col", "user_id", "--key-value", "7",
         "--rollup-path", rollup_path, "--rollup-keys", "user_id"],
        ["recover-erasure", fact_path],
        ["erase-index", idx, "--ids", "1"],
        ["erase-index", str(tmp_path / "ivf"), "--ids", "10"],
    ):
        assert mmain(argv, spark=spark) == 0, argv
    reports = [json.loads(ln) for ln in capsys.readouterr().out.splitlines()]
    assert reports[0]["partitions_compacted"] == 2
    assert reports[1]["dates_compacted"] == 4
    assert all(r["compacted"] for r in reports[2]["subtables"].values())
    assert reports[3]["rows_deleted"] == 4
    assert reports[5]["removed"]["vecs"] == 1 and reports[5]["removed"]["bands"] > 0
    assert reports[6]["partitions_rewritten"] == 1
    assert not [k for k in touched if "partitionOverwriteMode" in k], touched


class _Killed(RuntimeError):
    pass


def _rows(spark, path: str, where=None) -> list[str]:
    df = spark.read.parquet(path)
    if where is not None:
        df = df.filter(where)
    return sorted(map(repr, df.collect()))


@pytest.mark.parametrize("staging_complete", [True, False])
@pytest.mark.parametrize("command", ["compact_partitions", "erase_key", "erase_from_index"])
def test_rewrite_killed_after_live_dir_moved_aside(
    spark, tmp_path, monkeypatch, command, staging_complete
):
    """Kill a rewrite inside its first partition swap, right after the
    live dir moved to its hidden trash — once with the staged partition
    complete (recovery finishes the swap), once without (recovery rolls
    back) — then re-run the command: compaction keeps every row,
    erasure removes exactly the subject's rows, and no hidden staging,
    trash or job dir is left."""
    import meshtastic_airsensor_database_spark.io_utils as io
    import meshtastic_airsensor_database_spark.sources.maintenance as m

    if command == "compact_partitions":
        root = str(tmp_path / "facts")
        spark.range(2000).select(
            F.col("id"), (F.col("id") % 2).cast("string").alias("d")
        ).repartition(8).write.partitionBy("d").parquet(root)
        want = _rows(spark, root)

        def run():
            return m.compact_partitions(spark, root, "d", small_file_mb=1.0)
    elif command == "erase_key":
        root, _ = _erasure_fixture(spark, tmp_path)
        want = _rows(spark, root, F.col("user_id") != 7)

        def run():
            return m.erase_key(spark, root, "event_date", "user_id", 7)
    else:
        from meshtastic_airsensor_database_spark.operators.vindex import (
            build_ivf_index,
        )

        idx = str(tmp_path / "ivf_idx")
        build_ivf_index(
            spark.createDataFrame(
                [(0, [0.0, 0.0]), (1, [10.0, 10.0]), (10, [0.1, 0.0]), (11, [10.0, 9.9])],
                "vec_id long, embedding array<double>",
            ),
            idx, n_centroids=2, n_iters=1,
        )
        root = os.path.join(idx, "vectors")
        want = _rows(spark, root, F.col("vec_id") != 10)

        def run():
            return m.erase_from_index(spark, idx, [10])

    def killed_publish(path, staging_spec, trash_spec, marker):
        if staging_complete:
            open(os.path.join(io.swap_side(path, staging_spec), marker), "w").close()
        os.rename(path, io.swap_side(path, trash_spec))
        raise _Killed(path)

    monkeypatch.setattr(io, "publish_swap", killed_publish)
    with pytest.raises(_Killed):
        run()
    monkeypatch.undo()
    trash = [n for n in os.listdir(root) if n.endswith(".compact-trash")]
    assert len(trash) == 1
    assert not os.path.exists(os.path.join(root, trash[0][1 : -len(".compact-trash")]))

    run()
    assert _rows(spark, root) == want
    assert not [
        n for n in os.listdir(root)
        if n.startswith(".") and os.path.isdir(os.path.join(root, n))
    ]
    if command == "compact_partitions":
        assert len(_files_of(root, "d=0")) == len(_files_of(root, "d=1")) == 1


# --- unpartitioned index compaction ------------------------------------------

from meshtastic_airsensor_database_spark.sources.maintenance import (  # noqa: E402
    compact_index,
    compact_unpartitioned,
)


def _pq_files(d: str) -> list[str]:
    return [f for f in os.listdir(d) if f.endswith(".parquet")]


def _append_grown_table(spark, path: str, n_appends: int = 6):
    for i in range(n_appends):
        spark.range(i * 10, i * 10 + 10).withColumn(
            "v", F.col("id") * 2
        ).coalesce(2).write.mode("append").parquet(path)


def test_compact_unpartitioned_preserves_rows_and_cuts_files(spark, tmp_path):
    path = str(tmp_path / "idx_sub")
    _append_grown_table(spark, path)
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert len(_pq_files(path)) >= 6
    rep = compact_unpartitioned(spark, path)
    assert rep.compacted and rep.files_before >= 6 and rep.files_after == 1
    assert rep.rows == 60
    after = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert after == before
    assert len(_pq_files(path)) == 1
    # no residue from the swap
    assert not os.path.exists(path + ".compact-staging")
    assert not os.path.exists(path + ".compact-trash")


def test_compact_unpartitioned_noop_when_healthy(spark, tmp_path):
    path = str(tmp_path / "idx_sub")
    _append_grown_table(spark, path)
    assert compact_unpartitioned(spark, path).compacted
    files = set(_pq_files(path))
    rep2 = compact_unpartitioned(spark, path)
    assert not rep2.compacted and rep2.files_before == rep2.files_after == 1
    assert rep2.rows is None  # a healthy noop never scans the table
    assert set(_pq_files(path)) == files  # byte-identical layout, no rewrite


def test_compact_index_preserves_decon_probe_results(spark, tmp_path):
    """The lifecycle contract: build + many extends (append-grown index),
    probe, compact, probe again — identical pairs, fewer files."""
    from meshtastic_airsensor_database_spark.operators.decon_index import (
        build_decon_index,
        extend_decon_index,
        probe_decon_index,
    )

    idx = str(tmp_path / "decon_idx")

    def emb(rows):
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    build_decon_index(emb([(1, [1.0, 0.0, 0.0, 0.0])]), idx)
    for i in range(2, 6):
        vec = [0.0] * 4
        vec[i % 4] = 1.0
        extend_decon_index(emb([(i, vec)]), idx)
    probe = emb([(100, [2.0, 0.0, 0.0, 0.0]), (101, [0.0, 0.0, 3.0, 0.0])])
    before = {
        (r.eval_id, r.train_id, r.cosine)
        for r in probe_decon_index(probe, idx).collect()
    }
    assert before  # the probe finds the parallel train vectors
    files_before = len(_pq_files(os.path.join(idx, "bands")))
    assert files_before > 1
    reps = compact_index(spark, idx)
    assert set(reps) == {"bands", "vecs"}
    assert all(r.compacted and r.files_after == 1 for r in reps.values())
    after = {
        (r.eval_id, r.train_id, r.cosine)
        for r in probe_decon_index(probe, idx).collect()
    }
    assert after == before


def test_compact_index_skips_partitioned_subtables(spark, tmp_path):
    idx = str(tmp_path / "mixed_idx")
    flat = os.path.join(idx, "bands")
    _append_grown_table(spark, flat)
    part = os.path.join(idx, "vectors")
    spark.range(20).withColumn("cluster", F.col("id") % 4).write.partitionBy(
        "cluster"
    ).parquet(part)
    reps = compact_index(spark, idx)
    assert set(reps) == {"bands"}  # the cluster-partitioned layout is untouched
    assert sorted(
        tuple(r) for r in spark.read.parquet(part).collect()
    ) == sorted((i, i % 4) for i in range(20))


def test_compact_recovers_every_crash_state(spark, tmp_path):
    """Simulate each crash point of the two-rename swap and assert a
    re-run converges with no data loss."""
    import shutil

    def fresh(name):
        path = str(tmp_path / name)
        _append_grown_table(spark, path)
        rows = sorted(tuple(r) for r in spark.read.parquet(path).collect())
        return path, rows

    # crash mid-staging-write (no _SUCCESS): stale staging dropped, rewrite redone
    path, rows = fresh("t1")
    os.makedirs(path + ".compact-staging")
    open(path + ".compact-staging/part-garbage.parquet", "w").write("junk")
    rep = compact_unpartitioned(spark, path)
    assert rep.compacted and rep.rows == 60
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == rows

    # crash BETWEEN the renames (original in trash, staging complete):
    # recovery must FINISH the swap (the staged rewrite is verified data)
    path, rows = fresh("t2")
    spark.read.parquet(path).coalesce(1).write.parquet(path + ".compact-staging")
    os.rename(path, path + ".compact-trash")
    rep = compact_unpartitioned(spark, path)
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == rows
    assert not rep.compacted  # recovery completed the swap; dir now healthy
    assert not os.path.exists(path + ".compact-trash")

    # crash between the renames with an INCOMPLETE staging: roll back
    path, rows = fresh("t3")
    os.makedirs(path + ".compact-staging")
    os.rename(path, path + ".compact-trash")
    rep = compact_unpartitioned(spark, path)
    assert rep.compacted
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == rows

    # crash AFTER both renames, before trash cleanup: trash dropped
    path, rows = fresh("t4")
    shutil.copytree(path, path + ".compact-trash")
    rep = compact_unpartitioned(spark, path)
    assert rep.compacted
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == rows
    assert not os.path.exists(path + ".compact-trash")


def test_compact_partitions_preserves_ivf_search(spark, tmp_path, sf_dir):
    """The vindex maintenance story: extend appends one file set per
    batch into the cluster partitions, compact_partitions repairs the
    layout, and search results (and the partition-pruned probe shape)
    are unchanged — same rows, fewer files."""
    from meshtastic_airsensor_database_spark.io_utils import load
    from meshtastic_airsensor_database_spark.operators.vindex import (
        build_ivf_index,
        extend_ivf_index,
        search_ivf_index,
    )

    emb = load(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    path = str(tmp_path / "ivf")
    build_ivf_index(base, path, n_centroids=4, n_iters=1)
    # many tiny extend batches -> append-grown cluster partitions
    for m in range(5):
        extend_ivf_index(
            emb.filter((F.col("vec_id") % 5 == 0) & (F.col("vec_id") % 7 == m)),
            path,
        )
    q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    before = [
        tuple(r) for r in search_ivf_index(spark, path, q, k=10).collect()
    ]
    vec_dir = os.path.join(path, "vectors")
    n_files_before = sum(
        len(_pq_files(os.path.join(vec_dir, d)))
        for d in os.listdir(vec_dir)
        if d.startswith("cluster=")
    )
    rep = compact_partitions(
        spark, vec_dir, "cluster", target_mb=256, small_file_mb=32.0
    )
    assert rep.partitions_compacted > 0 and rep.files_after < n_files_before
    after = [
        tuple(r) for r in search_ivf_index(spark, path, q, k=10).collect()
    ]
    assert after == before


def test_erase_from_index_scrubs_minhash_and_decon(spark, tmp_path):
    """Erasing a subject's ids from a persisted index makes every probe
    blind to it, removes its rows from every subtable, and leaves other
    subjects' rows (and results) intact."""
    from meshtastic_airsensor_database_spark.operators.decon_index import (
        build_decon_index,
        probe_decon_index,
    )
    from meshtastic_airsensor_database_spark.operators.dedup_index import (
        build_minhash_index,
        dedup_new_batch,
    )
    from meshtastic_airsensor_database_spark.sources.maintenance import (
        erase_from_index,
    )

    # minhash: two indexed docs, a shard duplicating both
    mh = str(tmp_path / "mh_idx")
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "meshtastic nodes report air quality telemetry every minute"),
        ],
        "doc_id long, text string",
    )
    build_minhash_index(docs, mh, sketch="md5")
    shard = spark.createDataFrame(
        [(901, docs.collect()[0].text), (902, docs.collect()[1].text)],
        "doc_id long, text string",
    )
    before = {
        (r.new_id, r.indexed_id)
        for r in dedup_new_batch(shard, mh, threshold=0.8).collect()
    }
    assert before == {(901, 1), (902, 2)}
    rep = erase_from_index(spark, mh, [1])
    assert rep.removed["sigs"] == 1 and rep.removed["bands"] == 4
    assert rep.skipped == ()
    after = {
        (r.new_id, r.indexed_id)
        for r in dedup_new_batch(shard, mh, threshold=0.8).collect()
    }
    assert after == {(902, 2)}  # erased subject gone, other intact
    # idempotent: second run removes nothing
    rep2 = erase_from_index(spark, mh, [1])
    assert rep2.removed == {"bands": 0, "sigs": 0}

    # decon: parallel-vector contamination pair, then erase the train id
    dc = str(tmp_path / "dc_idx")
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    build_decon_index(emb, dc)
    probe = spark.createDataFrame(
        [(100, [2.0, 0.0, 0.0, 0.0]), (101, [0.0, 3.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    assert {
        (r.eval_id, r.train_id)
        for r in probe_decon_index(probe, dc).collect()
    } == {(100, 1), (101, 2)}
    erase_from_index(spark, dc, [1])
    assert {
        (r.eval_id, r.train_id)
        for r in probe_decon_index(probe, dc).collect()
    } == {(101, 2)}


def test_erase_from_index_vindex_is_partition_selective(spark, tmp_path):
    """vindex: only the subject's cluster partitions are rewritten
    (healthy partition files byte-untouched), a cluster wholly owned by
    the subject is REMOVED at the filesystem level, and the aggregate
    centroids table is skipped with a report."""
    from meshtastic_airsensor_database_spark.operators.vindex import (
        build_ivf_index,
        search_ivf_index,
    )
    from meshtastic_airsensor_database_spark.sources.maintenance import (
        erase_from_index,
    )

    idx = str(tmp_path / "ivf_idx")
    # 2 centroids (ids 0,1); id 10 joins cluster 0's corner, id 11
    # cluster 1's; id 0/1 are the init vectors themselves
    emb = spark.createDataFrame(
        [
            (0, [0.0, 0.0]),
            (1, [10.0, 10.0]),
            (10, [0.1, 0.0]),
            (11, [10.0, 9.9]),
        ],
        "vec_id long, embedding array<double>",
    )
    build_ivf_index(emb, idx, n_centroids=2, n_iters=1)
    vec_dir = os.path.join(idx, "vectors")
    parts = sorted(d for d in os.listdir(vec_dir) if d.startswith("cluster="))
    assert len(parts) == 2
    hits = {
        r.vec_id
        for r in search_ivf_index(spark, idx, [0.0, 0.0], k=4, n_probe=2).collect()
    }
    assert hits == {0, 1, 10, 11}

    # files of the cluster NOT containing vec 10 must stay byte-identical
    def part_files(p):
        d = os.path.join(vec_dir, p)
        return {
            (f, os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    owner = {}
    rows = spark.read.parquet(vec_dir).select("vec_id", "cluster").collect()
    for r in rows:
        owner.setdefault(int(r.cluster), set()).add(r.vec_id)
    c10 = next(c for c, ids in owner.items() if 10 in ids)
    healthy_part = next(p for p in parts if p != f"cluster={c10}")
    healthy_before = part_files(healthy_part)

    rep = erase_from_index(spark, idx, [10])
    assert rep.removed["vectors"] == 1
    assert rep.skipped == ("centroids",)
    assert rep.partitions_rewritten == 1 and rep.partitions_removed == 0
    assert part_files(healthy_part) == healthy_before
    assert {
        r.vec_id
        for r in search_ivf_index(spark, idx, [0.0, 0.0], k=4, n_probe=2).collect()
    } == {0, 1, 11}

    # erase the remaining sole occupant of cluster c10's partner rows:
    # wiping every member of a cluster must DELETE its directory
    sole = owner[c10] - {10}
    rep2 = erase_from_index(spark, idx, list(sole))
    assert rep2.partitions_removed == 1
    assert not os.path.exists(os.path.join(vec_dir, f"cluster={c10}"))
    assert {
        r.vec_id
        for r in search_ivf_index(spark, idx, [0.0, 0.0], k=4, n_probe=2).collect()
    } == {0, 1, 11} - sole


def test_erase_from_index_noop_and_crash_convergence(spark, tmp_path):
    """An absent subject rewrites nothing (file mtimes untouched), and
    a leftover crashed staging dir converges at the next erase entry
    (the shared io_utils.recover_swap discipline)."""
    from meshtastic_airsensor_database_spark.operators.dedup_index import (
        build_minhash_index,
        dedup_new_batch,
    )
    from meshtastic_airsensor_database_spark.sources.maintenance import (
        erase_from_index,
    )

    mh = str(tmp_path / "mh_idx")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    build_minhash_index(docs, mh, sketch="md5")

    def table_files(name):
        d = os.path.join(mh, name)
        return {
            (f, os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before = {n: table_files(n) for n in ("bands", "sigs")}
    rep = erase_from_index(spark, mh, [999])
    assert rep.removed == {"bands": 0, "sigs": 0}
    assert {n: table_files(n) for n in ("bands", "sigs")} == before

    # simulate a crash mid-rewrite: stray staging dir under sigs
    staging = os.path.join(mh, "sigs") + ".compact-staging"
    os.makedirs(staging)
    with open(os.path.join(staging, "junk.parquet"), "w") as f:
        f.write("not parquet")
    rep2 = erase_from_index(spark, mh, [1])
    assert rep2.removed["sigs"] == 1
    assert not os.path.exists(staging)
    shard = spark.createDataFrame(
        [(901, docs.collect()[0].text)], "doc_id long, text string"
    )
    assert dedup_new_batch(shard, mh, threshold=0.8).count() == 0


def test_erase_from_index_null_ids_survive(spark, tmp_path):
    """Three-valued-logic regression: a NULL-id row is NEVER the
    subject. Bare ``isin`` makes NULL.isin(...) NULL and ``~NULL``
    NULL, which would silently DROP NULL-id rows from a partitioned
    rewrite and break the unpartitioned row-count verification — the
    null-safe predicate must keep them in both paths."""
    from meshtastic_airsensor_database_spark.sources.maintenance import (
        erase_from_index,
    )

    idx = str(tmp_path / "idx")
    # partitioned subtable (the vindex layout) with a NULL-id row in
    # the SAME partition as the subject
    spark.createDataFrame(
        [(10, 0, 1.0), (None, 0, 2.0), (11, 1, 3.0)],
        "vec_id long, cluster int, v double",
    ).write.partitionBy("cluster").parquet(os.path.join(idx, "vectors"))
    # unpartitioned subtable with a NULL id alongside the subject
    spark.createDataFrame(
        [(10, "a"), (None, "b"), (12, "c")], "_id long, payload string"
    ).write.parquet(os.path.join(idx, "sigs"))

    rep = erase_from_index(spark, idx, [10])
    assert rep.removed == {"sigs": 1, "vectors": 1}
    left_vec = {
        (r.vec_id, r.cluster)
        for r in spark.read.parquet(os.path.join(idx, "vectors")).collect()
    }
    assert left_vec == {(None, 0), (11, 1)}
    left_sig = {
        r._id for r in spark.read.parquet(os.path.join(idx, "sigs")).collect()
    }
    assert left_sig == {None, 12}


def test_erase_from_index_clears_crashed_build_trash(spark, tmp_path):
    """A build that crashed between publish_swap's renames
    leaves the complete OLD index — subject rows included — readable in
    <path>.build-trash; an erasure must converge that residue at entry
    rather than reporting success while the bytes survive."""
    import shutil

    from meshtastic_airsensor_database_spark.operators.dedup_index import (
        build_minhash_index,
        dedup_new_batch,
    )
    from meshtastic_airsensor_database_spark.sources.maintenance import (
        erase_from_index,
    )

    mh = str(tmp_path / "mh_idx")
    docs = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    build_minhash_index(docs, mh, sketch="md5")
    # simulate the crash window: the old generation still in trash
    shutil.copytree(mh, mh + ".build-trash")
    rep = erase_from_index(spark, mh, [1])
    assert rep.removed["sigs"] == 1
    assert not os.path.exists(mh + ".build-trash")
    shard = spark.createDataFrame(
        [(901, docs.collect()[0].text)], "doc_id long, text string"
    )
    assert dedup_new_batch(shard, mh, threshold=0.8).count() == 0


def test_erase_from_index_recovers_mid_swap_crash(spark, tmp_path):
    """The reproduced r11 review finding: a kill BETWEEN the rewrite
    swap's two renames leaves the subtable's base dir missing and the
    old generation (subject rows included) in <sub>.compact-trash — a
    listing that filters suffix dirs would silently skip the subtable
    and report success while the data survives. Entry recovery must
    restore the base from trash and the re-run must then erase it."""
    import shutil as _sh

    from meshtastic_airsensor_database_spark.operators.dedup_index import (
        build_minhash_index,
        dedup_new_batch,
    )
    from meshtastic_airsensor_database_spark.sources.maintenance import (
        erase_from_index,
    )

    mh = str(tmp_path / "mh_idx")
    docs = spark.createDataFrame(
        [(1, "uno dos tres cuatro cinco seis siete ocho nueve diez")],
        "doc_id long, text string",
    )
    build_minhash_index(docs, mh, sketch="md5")
    sigs = os.path.join(mh, "sigs")
    # the kill window: base renamed to trash, replacement never landed
    os.rename(sigs, sigs + ".compact-trash")
    assert not os.path.exists(sigs)

    rep = erase_from_index(spark, mh, [1])
    assert rep.removed["sigs"] == 1, rep  # NOT silently skipped
    assert os.path.exists(sigs)
    assert not os.path.exists(sigs + ".compact-trash")
    shard = spark.createDataFrame(
        [(901, docs.collect()[0].text)], "doc_id long, text string"
    )
    assert dedup_new_batch(shard, mh, threshold=0.8).count() == 0
    _sh.rmtree(mh, ignore_errors=True)


def test_compact_index_recovers_mid_swap_crash(spark, tmp_path):
    """A kill between a subtable rewrite's two renames leaves the base
    dir missing and only <sub>.compact-trash on disk. compact_index
    must restore the subtable at entry and report it, not list around
    it and leave the index without its signatures."""
    from meshtastic_airsensor_database_spark.operators.dedup_index import (
        build_minhash_index,
        dedup_new_batch,
    )
    from meshtastic_airsensor_database_spark.sources.maintenance import (
        compact_index,
    )

    mh = str(tmp_path / "mh_idx")
    docs = spark.createDataFrame(
        [(1, "un deux trois quatre cinq six sept huit neuf dix")],
        "doc_id long, text string",
    )
    build_minhash_index(docs, mh, sketch="md5")
    sigs = os.path.join(mh, "sigs")
    os.rename(sigs, sigs + ".compact-trash")

    rep = compact_index(spark, mh)
    assert sorted(rep) == ["bands", "sigs"], rep
    assert sorted(n for n in os.listdir(mh) if not n.startswith("_")) == [
        "bands",
        "sigs",
    ]
    shard = spark.createDataFrame(
        [(901, docs.collect()[0].text)], "doc_id long, text string"
    )
    assert dedup_new_batch(shard, mh, threshold=0.8).count() == 1


def test_swap_on_hadoop_filesystem_path(spark, tmp_path):
    """A ``scheme://`` path runs the swap through Hadoop FileSystem
    (the branch HDFS deployments of the node-dim snapshot take): the
    publish stamps a missing marker, and a crash between the renames
    is finished by recovery."""
    from meshtastic_airsensor_database_spark.io_utils import (
        publish_swap,
        recover_swap,
    )

    swap = (".s", ".t", "_DONE")
    local = str(tmp_path / "tbl")
    uri = "file://" + local
    spark.range(3).write.parquet(uri + ".s")
    assert not recover_swap(uri, *swap)  # incomplete staging: dropped
    assert not os.path.exists(local + ".s")

    spark.range(3).write.parquet(uri + ".s")
    publish_swap(uri, *swap)
    assert os.path.exists(os.path.join(local, "_DONE"))
    assert sorted(os.listdir(tmp_path)) == ["tbl"]

    # kill window: live moved to trash, complete staging not yet in
    spark.range(5).write.parquet(uri + ".s")
    open(os.path.join(local + ".s", "_DONE"), "w").close()
    os.rename(local, local + ".t")
    assert recover_swap(uri, *swap)
    assert sorted(os.listdir(tmp_path)) == ["tbl"]
    assert spark.read.parquet(uri).count() == 5


def test_failed_hadoop_rename_raises(monkeypatch):
    """Hadoop's ``FileSystem.rename`` reports failure by returning
    false; the swap's rename raises instead, so ``publish_swap`` never
    goes on to swap an empty staging dir in for live data."""
    from types import SimpleNamespace

    import pyspark

    from meshtastic_airsensor_database_spark.io_utils import _swap_fs

    class Path:
        def __init__(self, p):
            self.p = p

        def getFileSystem(self, conf):
            return SimpleNamespace(rename=lambda a, b: False)

    jvm = SimpleNamespace(org=SimpleNamespace(apache=SimpleNamespace(
        hadoop=SimpleNamespace(fs=SimpleNamespace(Path=Path))
    )))
    sc = SimpleNamespace(
        _jvm=jvm, _jsc=SimpleNamespace(hadoopConfiguration=lambda: None)
    )
    monkeypatch.setattr(
        pyspark.SparkContext, "getOrCreate", classmethod(lambda cls, conf=None: sc)
    )
    rename = _swap_fs("hdfs://nn/lake/t")[1]
    with pytest.raises(OSError, match="rename hdfs://nn/lake/t/a"):
        rename("hdfs://nn/lake/t/a", "hdfs://nn/lake/t/.a.compact-staging")
