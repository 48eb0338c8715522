"""Maintenance-pair scale smoke (r10 verdict #5/#6): drive
compact_partitions and erase_key on a realistic multi-date lake and
measure that their cost tracks the DAMAGE (bad partitions / subject
footprint), never the table.

Sections:

1. ``lake`` — a ~50-date, ~5k-file fact lake (a configurable subset of
   dates "bad": ~100 tiny micro-batch appends each; the rest healthy:
   a few well-sized files). compact_partitions must (a) rewrite only
   the bad dates — every healthy partition's files stay byte- and
   mtime-identical, (b) cost ~per-bad-partition: the wall at 2x the
   bad-date count must grow far slower than 2x the all-dates cost
   (measured by compacting lakes built with n_bad and 2*n_bad), and
   (c) re-run as a listing-only noop.

2. ``erase`` — the same lake shape plus a materialized hourly rollup;
   folded as two deltas per date; one subject owns rows in exactly 3
   of the 50 dates. erase_key must touch only those 3 fact partitions
   + the rollup's 3 date dirs (mtime check on the other 47, both
   tables), and its wall must sit near the 3-date compaction cost,
   not the 50-date table scan.

3. ``wide`` — the analyzer-pathology guard: a lake with >= 1k BAD
   partitions (2 tiny files each). The per-partition output-file-count
   expression used to be a chained CASE WHEN per bad partition
   (thousands-deep tree); it is now a broadcast-joined tiny map, so
   this must complete in ordinary time with all partitions compacted.

4. ``index_erase`` (r11) — erase_from_index on a 32-cluster persisted
   IVF index: a 2-cluster-footprint subject must rewrite exactly those
   2 cluster partitions (mtime check on the other 30), with the only
   whole-index cost an id-column scan to locate the footprint; the
   same subject against a decon index measures the documented
   unpartitioned full-rewrite price for contrast.

Usage::

    python tools/smoke_maintenance.py [n_dates] [n_wide] [n_vecs]

Prints one JSON line; the README scale-evidence table records it.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from meshtastic_airsensor_database_spark.session import get_spark
from meshtastic_airsensor_database_spark.sources.maintenance import (
    compact_partitions,
    erase_key,
)

ROOT = "/tmp/spark_graft_smoke_maintenance"


def _mtimes(path: str, dates: list[str]) -> dict[str, tuple]:
    out = {}
    for d in dates:
        pd = os.path.join(path, f"event_date={d}")
        out[d] = tuple(
            sorted(
                (f, os.path.getmtime(os.path.join(pd, f)))
                for f in os.listdir(pd)
                if f.endswith(".parquet")
            )
        )
    return out


def build_lake(
    spark,
    path: str,
    n_dates: int,
    bad_dates: list[str],
    rows_per_date: int = 2_000,
    files_per_bad: int = 100,
) -> list[str]:
    """A date-partitioned fact lake: bad dates get ``files_per_bad``
    tiny files (micro-batch append damage), healthy dates one file."""
    shutil.rmtree(path, ignore_errors=True)
    dates = [
        f"2024-{1 + i // 28:02d}-{1 + i % 28:02d}" for i in range(n_dates)
    ]
    healthy = [d for d in dates if d not in set(bad_dates)]

    def frame(subset):
        date_arr = F.array(*[F.lit(d) for d in subset])
        return (
            spark.range(len(subset) * rows_per_date)
            .select(
                F.to_timestamp(
                    F.concat(
                        F.element_at(
                            date_arr,
                            (F.col("id") % len(subset)).cast("int") + 1,
                        ),
                        F.format_string(
                            " %02d:00:00", F.col("id") % 24
                        ),
                    )
                ).alias("ts"),
                # hash, not id%500: a modulo user draw correlates with
                # the id%len(subset) date draw (gcd arithmetic can make
                # a given user never appear on a given date)
                F.pmod(F.xxhash64("id"), F.lit(500)).alias("user_id"),
                (F.col("id") % 97).cast("double").alias("value"),
            )
            .withColumn("event_date", F.to_date("ts"))
        )

    if healthy:
        # exactly ONE file per healthy date (n_files=1 -> never "bad")
        frame(healthy).repartition("event_date").write.mode(
            "append"
        ).partitionBy("event_date").parquet(path)
    if bad_dates:
        frame(bad_dates).repartition(files_per_bad).write.mode(
            "append"
        ).partitionBy("event_date").parquet(path)
    return dates


def compaction_section(spark, n_dates: int) -> dict:
    out: dict = {}
    for tag, n_bad in (("few_bad", max(1, n_dates // 10)), ("twice_bad", max(2, n_dates // 5))):
        path = os.path.join(ROOT, f"lake_{tag}")
        # bad dates spread across the range, not a prefix block
        all_dates = [
            f"2024-{1 + i // 28:02d}-{1 + i % 28:02d}" for i in range(n_dates)
        ]
        bad = all_dates[:: max(1, n_dates // n_bad)][:n_bad]
        # ~500 appended files per bad date: the twice_bad lake lands at
        # ~5k files total, the verdict's realism target
        dates = build_lake(spark, path, n_dates, bad, files_per_bad=500)
        healthy = [d for d in dates if d not in set(bad)]
        before = _mtimes(path, healthy)
        n_files_before = sum(
            len(v) for v in _mtimes(path, dates).values()
        )
        spark._jvm.System.gc()
        t0 = time.time()
        rep = compact_partitions(spark, path, "event_date", small_file_mb=1.0)
        wall = round(time.time() - t0, 2)
        assert rep.partitions_compacted == len(bad), rep
        assert _mtimes(path, healthy) == before, (
            "healthy partitions were touched"
        )
        t0 = time.time()
        rep2 = compact_partitions(spark, path, "event_date", small_file_mb=1.0)
        noop_wall = round(time.time() - t0, 2)
        assert rep2.partitions_compacted == 0, rep2
        out[tag] = {
            "n_dates": n_dates,
            "n_bad": len(bad),
            "files_before": n_files_before,
            "files_after": rep.files_after,
            "compact_sec": wall,
            "noop_sec": noop_wall,
        }
        shutil.rmtree(path, ignore_errors=True)
    return out


def _rollup_mtimes(rollup: str, dates: list[str]) -> dict[str, tuple]:
    out = {}
    for d in dates:
        pd = os.path.join(rollup, f"rollup_date={d}")
        out[d] = tuple(sorted(
            (os.path.join(leaf, f), os.path.getmtime(os.path.join(pd, leaf, f)))
            for leaf in os.listdir(pd)
            if leaf.startswith("rollup_delta=")
            for f in os.listdir(os.path.join(pd, leaf))
        ))
    return out


def erasure_section(spark, n_dates: int) -> dict:
    from meshtastic_airsensor_database_spark.streaming.rollup import (
        maintain_rollup,
    )

    path = os.path.join(ROOT, "lake_erase")
    rollup = os.path.join(ROOT, "rollup_erase")
    shutil.rmtree(rollup, ignore_errors=True)
    n_bad = max(1, n_dates // 10)
    all_dates = [
        f"2024-{1 + i // 28:02d}-{1 + i % 28:02d}" for i in range(n_dates)
    ]
    bad = all_dates[:: max(1, n_dates // n_bad)][:n_bad]
    dates = build_lake(spark, path, n_dates, bad)
    # the subject: user 42 exists on every date by construction; give
    # them a bounded footprint instead — rewrite their rows onto 3
    # dates only by reassigning user ids per date
    facts = spark.read.parquet(path)
    subject_dates = dates[:3]
    reassigned = facts.withColumn(
        "user_id",
        F.when(
            (F.col("user_id") == 42)
            & ~F.col("event_date").cast("string").isin(subject_dates),
            F.lit(10_042),
        ).otherwise(F.col("user_id")),
    )
    reassigned.write.mode("overwrite").partitionBy("event_date").parquet(
        path + ".tmp"
    )
    shutil.rmtree(path)
    os.rename(path + ".tmp", path)
    # two deltas per date, as two ingest batches would leave them
    for parity in (0, 1):
        maintain_rollup(
            spark.read.parquet(path).filter(F.col("user_id") % 2 == parity),
            rollup, keys=["user_id"],
        )
    untouched = [d for d in dates if d not in set(subject_dates)]
    before = _mtimes(path, untouched)
    rollup_before = _rollup_mtimes(rollup, untouched)
    spark._jvm.System.gc()
    t0 = time.time()
    rep = erase_key(
        spark, path, "event_date", "user_id", 42,
        rollup_path=rollup, rollup_keys=["user_id"],
    )
    wall = round(time.time() - t0, 2)
    assert rep.fact_partitions_rewritten + rep.fact_partitions_removed == 3, rep
    assert _mtimes(path, untouched) == before, (
        "partitions outside the subject's footprint were touched"
    )
    assert _rollup_mtimes(rollup, untouched) == rollup_before, (
        "rollup dates outside the subject's footprint were touched"
    )
    post = spark.read.parquet(path)
    assert post.filter(F.col("user_id") == 42).count() == 0
    assert (
        spark.read.parquet(rollup).filter(F.col("user_id") == 42).count() == 0
    )
    out = {
        "n_dates": n_dates,
        "subject_dates": len(subject_dates),
        "rows_deleted": rep.rows_deleted,
        "erase_sec": wall,
        "rollup_mode": rep.rollup_mode,
    }
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(rollup, ignore_errors=True)
    return out


def wide_section(spark, n_wide: int) -> dict:
    """>= 1k bad partitions: the chained-CASE-WHEN analyzer pathology
    guard (now a broadcast-joined (partition -> n_out) map)."""
    path = os.path.join(ROOT, "lake_wide")
    shutil.rmtree(path, ignore_errors=True)
    # n_wide dates, 2 tiny files each — every partition is bad
    df = spark.range(n_wide * 2).select(
        F.date_add(F.lit("2020-01-01"), (F.col("id") % n_wide).cast("int")).alias(
            "event_date"
        ),
        F.col("id").alias("user_id"),
        F.col("id").cast("double").alias("value"),
    )
    # two single-task append passes -> EXACTLY 2 tiny files per date
    # (a random repartition split can leave some dates one file, which
    # the n_files>1 badness criterion would then skip)
    df.coalesce(1).write.mode("append").partitionBy("event_date").parquet(path)
    df.coalesce(1).write.mode("append").partitionBy("event_date").parquet(path)
    spark._jvm.System.gc()
    t0 = time.time()
    rep = compact_partitions(spark, path, "event_date", small_file_mb=1.0)
    wall = round(time.time() - t0, 2)
    assert rep.partitions_compacted == n_wide, rep
    assert rep.files_after == n_wide, rep
    out = {
        "n_bad_partitions": n_wide,
        "files_before": rep.files_before,
        "files_after": rep.files_after,
        "compact_sec": wall,
    }
    shutil.rmtree(path, ignore_errors=True)
    return out


def index_erasure_section(spark, n_vecs: int) -> dict:
    """erase_from_index cost tracks the subject's partition footprint
    on the cluster-partitioned vindex layout; the decon contrast pays
    the documented unpartitioned full-rewrite price."""
    from pyspark.sql import functions as F

    from meshtastic_airsensor_database_spark.operators.decon_index import (
        build_decon_index,
    )
    from meshtastic_airsensor_database_spark.operators.vindex import (
        build_ivf_index,
    )
    from meshtastic_airsensor_database_spark.sources.maintenance import (
        erase_from_index,
    )

    dim, n_cent = 16, 32
    emb = spark.range(n_vecs).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: (
                F.pmod(F.xxhash64(F.col("id"), i), F.lit(1000)).cast("double")
                / 1000.0
            ),
        ).alias("embedding"),
    )
    ivf = os.path.join(ROOT, "ivf_erase_idx")
    t0 = time.time()
    build_ivf_index(emb, ivf, n_centroids=n_cent, n_iters=1)
    build_sec = round(time.time() - t0, 2)
    vec_dir = os.path.join(ivf, "vectors")
    # a subject with a TWO-cluster footprint: one vec from each of the
    # first two clusters that actually materialized
    rows = (
        spark.read.parquet(vec_dir)
        .groupBy("cluster")
        .agg(F.min("vec_id").alias("vec_id"))
        .orderBy("cluster")
        .limit(2)
        .collect()
    )
    subject = [int(r["vec_id"]) for r in rows]
    touched = {f"cluster={int(r['cluster'])}" for r in rows}
    parts = [d for d in os.listdir(vec_dir) if d.startswith("cluster=")]
    untouched = [d for d in parts if d not in touched]

    def part_mtimes(ds):
        return {
            d: tuple(
                sorted(
                    os.path.getmtime(os.path.join(vec_dir, d, f))
                    for f in os.listdir(os.path.join(vec_dir, d))
                    if f.endswith(".parquet")
                )
            )
            for d in ds
        }

    before = part_mtimes(untouched)
    spark._jvm.System.gc()
    t0 = time.time()
    rep = erase_from_index(spark, ivf, subject)
    ivf_sec = round(time.time() - t0, 2)
    assert rep.removed["vectors"] == 2 and rep.partitions_rewritten == 2, rep
    assert rep.skipped == ("centroids",), rep
    assert part_mtimes(untouched) == before, (
        "clusters outside the subject's footprint were touched"
    )
    n_left = spark.read.parquet(vec_dir).count()
    assert n_left == n_vecs - 2, n_left

    dc = os.path.join(ROOT, "decon_erase_idx")
    build_decon_index(emb, dc)
    spark._jvm.System.gc()
    t0 = time.time()
    rep2 = erase_from_index(spark, dc, subject)
    dc_sec = round(time.time() - t0, 2)
    assert rep2.removed == {"vecs": 2, "bands": 16}, rep2
    shutil.rmtree(ivf, ignore_errors=True)
    shutil.rmtree(dc, ignore_errors=True)
    return {
        "n_vecs": n_vecs,
        "n_clusters": len(parts),
        "ivf_build_sec": build_sec,
        "ivf_erase_sec": ivf_sec,
        "clusters_rewritten": rep.partitions_rewritten,
        "decon_erase_sec_full_rewrite": dc_sec,
    }


def main() -> None:
    n_dates = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    n_wide = int(sys.argv[2]) if len(sys.argv) > 2 else 1200
    n_vecs = int(sys.argv[3]) if len(sys.argv) > 3 else 200_000
    spark = get_spark("smoke_maintenance")
    shutil.rmtree(ROOT, ignore_errors=True)
    out = {
        "compaction": compaction_section(spark, n_dates),
        "erasure": erasure_section(spark, n_dates),
        "wide": wide_section(spark, n_wide),
        "index_erase": index_erasure_section(spark, n_vecs),
    }
    shutil.rmtree(ROOT, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
