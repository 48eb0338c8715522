"""Incremental hourly rollup — continuous-aggregate maintenance.

The reference recomputes its per-node plots from the full fact table on
every request (graphdata.py's per-figure ``SELECT *`` + pandas resample;
AIRWISEv0.py keeps no aggregate state at all). At 100 TB a dashboard
query can never re-scan raw facts; the engine instead maintains a
MATERIALIZED hourly rollup the way a TimescaleDB continuous aggregate /
Druid rollup segment does, updated incrementally from each ingest
micro-batch.

Scale contract (the reason this shape survives 1000 executors):

- The rollup table stores PARTIAL aggregates (sum, count, min, max) —
  never averages — so increments merge associatively and the maintainer
  can always ``old ⊕ new`` without re-reading raw facts. The finalize
  step (avg = sum/count) happens only at query time.
- One micro-batch touches ONLY the date partitions its events land in:
  the merge reads the existing rollup filtered to the affected dates
  (partition-pruned directory scan — the rest of the table's files are
  never listed), and the write uses dynamic partition overwrite, so a
  day of history is rewritten only when a late event actually arrives
  for it. Steady state rewrites one small partition per batch
  regardless of table age.
- The rewritten rows are bounded by (hours/day x keys), i.e. the rollup
  grain, not by raw-fact volume: a batch merge shuffles thousands of
  partial rows, never billions of events.
- On an object store a production deployment would swap the
  parquet-overwrite for a transactional table format (Delta/Iceberg
  MERGE) to get atomic partition swaps; the maintenance algebra —
  partial aggs, affected-partition pruning, associative merge — is
  identical, and ``parquet_table_sink``-style dynamic overwrite is the
  dependency-free stand-in this container allows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ROLLUP_PARTITION_COL = "rollup_date"


def _partials(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    distinct_col: str | None = None,
) -> DataFrame:
    """Aggregate raw facts to hourly partial aggregates (map-side
    combined hash agg; the shuffle carries one row per key x hour).

    ``distinct_col`` additionally stores an HLL sketch of that column
    per key x hour — COUNT(DISTINCT) is the one dashboard aggregate
    with no exact partial form, so the rollup keeps the mergeable
    sketch instead (operators/sketch.py rationale; union in ``_merge``
    is associative, so out-of-order slices still converge to the
    single-pass sketch)."""
    aggs = [
        F.sum(value_col).alias("sum_value"),
        F.count(value_col).alias("cnt"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    ]
    if distinct_col is not None:
        aggs.append(F.hll_sketch_agg(distinct_col).alias("distinct_sketch"))
    return (
        df.groupBy(F.date_trunc("hour", F.col(ts_col)).alias("hour_ts"), *keys)
        .agg(*aggs)
        .withColumn(ROLLUP_PARTITION_COL, F.to_date("hour_ts"))
    )


def _merge(parts: DataFrame, keys: list[str]) -> DataFrame:
    """Associatively merge partial-aggregate rows sharing a key x hour:
    sums add, counts add, mins/maxes fold, sketches union."""
    aggs = [
        F.sum("sum_value").alias("sum_value"),
        F.sum("cnt").alias("cnt"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    ]
    if "distinct_sketch" in parts.columns:
        aggs.append(F.hll_union_agg("distinct_sketch").alias("distinct_sketch"))
    if "last_epoch" in parts.columns:
        # a date's rows are stamped uniformly (every fold rewrites the
        # whole partition with one tag), so max() just carries it
        aggs.append(F.max("last_epoch").alias("last_epoch"))
    return parts.groupBy("hour_ts", *keys).agg(*aggs).withColumn(
        ROLLUP_PARTITION_COL, F.to_date("hour_ts")
    )


def maintain_rollup(
    batch: DataFrame,
    rollup_path: str,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    distinct_col: str | None = None,
    width: int | None = None,
    plan_probe=None,
    affected_dates: list | None = None,
    epoch_tag: str | None = None,
) -> list:
    """Fold one (micro-)batch of raw facts into the materialized hourly
    rollup at ``rollup_path``. Designed as a ``foreachBatch`` body (the
    streaming ingest calls it per epoch) and equally usable for batch
    backfill slices.

    ``width`` (optional) coalesces the post-aggregation stages to that
    many partitions — the caller's upper bound on partial-row volume.
    The streaming ingest passes its batch-derived width so a trickle
    micro-batch maintains the rollup with single-task stages instead of
    shuffle-width ones; batch backfills leave it None.

    ``affected_dates`` (optional): the distinct non-null event DATES in
    the batch, when the caller already knows them (the streaming ingest
    collects them as one more column of its per-batch stats aggregate —
    zero extra jobs). With them, the whole maintenance is TWO jobs —
    checkpoint the merged partials (one plan: batch partials ∪ pruned
    existing), overwrite the affected partitions — instead of three
    (the partials must otherwise be checkpointed first just to learn
    which dates they touch).

    ``epoch_tag`` (optional) makes the fold IDEMPOTENT under epoch
    replay — the one at-least-once residual the fact tables absorb
    with packet dedup but an additive aggregate cannot: a crash after
    this overwrite commits but before the caller's epoch ledger marks
    the epoch re-delivers the same batch, and an unguarded re-merge
    would double-count it. With a tag (unique per (run, epoch) — the
    streaming ingest passes ``EpochLedger.run_tag() + ':' + epoch``),
    every rewritten partition's rows are stamped ``last_epoch = tag``,
    and the merge drops the batch's partials for any affected date
    whose stored stamp ALREADY equals the tag (that date was fully
    folded by the crashed attempt; its partition is rewritten
    unchanged). The check rides the same merge plan — a window over
    rollup-grain rows, zero extra jobs. Tables maintained without tags
    (batch backfill) never grow the stamp column; one maintainer style
    per table.

    Returns the list of affected partition dates (for tests/metrics).
    """
    spark = batch.sparkSession
    # Null event times are excluded OUTRIGHT, on every path (r8 ADVICE):
    # a null ts has no hour bucket and no prunable date partition, so
    # its partials would land in __HIVE_DEFAULT_PARTITION__ — which the
    # affected-date pruning can never name (collect_set and isin both
    # skip nulls), making that partition a last-batch-wins clobber. The
    # facts keep their null-ts rows; the time-bucketed aggregate simply
    # has no bucket for them.
    batch = batch.filter(F.col(ts_col).isNotNull())
    new_parts = _partials(batch, keys, ts_col, value_col, distinct_col)
    if epoch_tag is not None:
        new_parts = new_parts.withColumn("last_epoch", F.lit(epoch_tag))
    if width is not None:
        new_parts = new_parts.coalesce(width)
    if affected_dates is None:
        from pyspark.sql import Observation

        # Pin the batch's partials FIRST: they are rollup-grain small
        # (hours x keys), and the merge + overwrite then read this
        # checkpoint instead of re-aggregating the raw batch. The
        # affected-date set RIDES the checkpoint action as an observed
        # aggregate (bounded by the batch's event-time spread —
        # normally 1-2 dates per micro-batch): no separate
        # distinct+collect job, and no data movement beyond a set of
        # date scalars.
        obs = Observation("rollup_affected_dates")
        new_parts = new_parts.observe(
            obs, F.collect_set(ROLLUP_PARTITION_COL).alias("d")
        )
        if plan_probe is not None:  # tests: structural plan audit hook
            plan_probe("rollup_partials", new_parts)
        new_parts = new_parts.localCheckpoint(eager=True)
        affected = list(obs.get["d"])
    else:
        affected = list(affected_dates)
    if not affected:
        return []

    # Read existing state as LITERAL partition directories (basePath
    # keeps the partition column), not a root scan + isin filter. Same
    # rows — but the plan's input paths are the subdirectories, never
    # the table root the write below overwrites, so Spark's
    # read-own-output guard doesn't trip and the merge + overwrite run
    # as ONE job with no pre-write localCheckpoint (r9: that checkpoint
    # was a whole extra job on the micro-batch critical path). A date
    # with no directory yet has nothing to merge and is simply not read.
    part_dirs = _affected_partition_dirs(spark, rollup_path, affected)
    if part_dirs:
        existing = spark.read.option("basePath", rollup_path).parquet(*part_dirs)
        if epoch_tag is not None:
            if "last_epoch" not in existing.columns:
                # first tagged fold over a pre-stamp table
                existing = existing.withColumn(
                    "last_epoch", F.lit(None).cast("string")
                )
            from pyspark.sql import Window

            # Per-date replay guard: _folded=1 iff the STORED rows of
            # that date already carry this epoch's tag. Batch partials
            # for folded dates are dropped (their partition is
            # rewritten unchanged); everything else folds and gets the
            # tag. Window over rollup-grain rows inside the same job.
            both = existing.withColumn("_src", F.lit(0)).unionByName(
                new_parts.withColumn("_src", F.lit(1))
            )
            w = Window.partitionBy(ROLLUP_PARTITION_COL)
            flagged = both.withColumn(
                "_folded",
                F.max(
                    F.when(
                        (F.col("_src") == 0)
                        & (F.col("last_epoch") == F.lit(epoch_tag)),
                        1,
                    ).otherwise(0)
                ).over(w),
            )
            kept = flagged.filter(
                (F.col("_src") == 0) | (F.col("_folded") == 0)
            ).withColumn(
                "last_epoch",
                F.when(F.col("_folded") == 0, F.lit(epoch_tag)).otherwise(
                    F.col("last_epoch")
                ),
            ).drop("_src", "_folded")
            merged = _merge(kept, keys)
        else:
            merged = _merge(existing.unionByName(new_parts), keys)
    else:
        merged = _merge(new_parts, keys)

    if width is not None:
        merged = merged.coalesce(width)
    if plan_probe is not None:
        plan_probe("rollup_merged", merged)
    # ONE job: merge + dynamic partition overwrite in the same action.
    # Temporally safe to read the partitions being replaced — dynamic
    # overwrite stages task output and only deletes/renames the affected
    # partition directories in commitJob, after every read task has
    # finished. The overwrite mode rides the WRITER (not the session
    # conf, which a concurrent sink thread could observe mid-toggle —
    # r8 ADVICE) so only this write is dynamic.
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(ROLLUP_PARTITION_COL)
        .parquet(rollup_path)
    )
    return affected


def _affected_partition_dirs(
    spark: SparkSession, rollup_path: str, affected: list
) -> list[str]:
    """Existing partition directories for the affected dates — the
    merge's literal read set (see maintain_rollup). Existence is checked
    per directory (O(affected), normally 1-2 per micro-batch) instead of
    listing the table root, so the maintainer never pays a full-table
    listing however old the rollup grows."""
    dirs = [
        f"{rollup_path.rstrip('/')}/{ROLLUP_PARTITION_COL}={d}" for d in affected
    ]
    if "://" not in rollup_path:
        return [p for p in dirs if os.path.isdir(p)]
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.Path(rollup_path).getFileSystem(conf)
    return [p for p in dirs if fs.exists(jvm.org.apache.hadoop.fs.Path(p))]


def _rollup_exists(spark: SparkSession, rollup_path: str) -> bool:
    if "://" not in rollup_path:
        return os.path.isdir(rollup_path) and any(
            name.startswith(ROLLUP_PARTITION_COL + "=") for name in os.listdir(rollup_path)
        )
    # Remote filesystems: probe through Hadoop so the same code runs on
    # an object store.
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(rollup_path)
    return path.getFileSystem(conf).exists(path)


def read_rollup(spark: SparkSession, rollup_path: str, keys: list[str]) -> DataFrame:
    """Finalize the materialized partials into the user-facing hourly
    aggregate view (avg derived at read time — the stored state stays
    mergeable)."""
    parts = spark.read.parquet(rollup_path)
    cols = [
        F.col("hour_ts"),
        *[F.col(k) for k in keys],
        (F.col("sum_value") / F.col("cnt")).alias("avg_value"),
        F.col("min_value"),
        F.col("max_value"),
        F.col("cnt").alias("n"),
    ]
    if "distinct_sketch" in parts.columns:
        cols.append(
            F.hll_sketch_estimate("distinct_sketch").alias("distinct_est")
        )
    return parts.select(*cols)


# Grains the hourly rollup CANNOT serve (finer than its stored grain).
_SUB_HOUR_GRAINS = {"minute", "second"}


def serve_series_stats(
    spark: SparkSession,
    facts_path: str,
    rollup_path: str,
    keys: list[str],
    grain: str = "hour",
    ts_col: str = "ts",
    value_col: str = "value",
) -> tuple[DataFrame, str]:
    """Materialized-view routing: answer a (grain x keys) series of
    count/avg/min/max from the HOURLY rollup whenever the requested
    grain is hour-or-coarser — the stored partials re-merge
    associatively to any such grain (sums add, extrema fold) — and
    fall back to scanning raw facts ONLY for sub-hour grains the
    rollup cannot represent. Returns (df, source) with source in
    {'rollup', 'facts'}; tests assert the rollup-served plan never
    lists a raw-fact file.

    This is the BI-accelerator contract at 100 TB: the rollup is
    hours x keys (typically 5-6 orders of magnitude smaller than the
    fact table), so a dashboard's daily/weekly series costs a scan of
    the rollup partitions instead of the lake — and because
    maintain_rollup keeps the partials exact and mergeable, the served
    numbers are identical to a raw recompute, not an approximation.
    """
    servable = (
        grain not in _SUB_HOUR_GRAINS and _rollup_exists(spark, rollup_path)
    )
    if servable:
        parts = spark.read.parquet(rollup_path)
        aggs = [
            F.sum("sum_value").alias("sum_value"),
            F.sum("cnt").alias("n"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        ]
        # HLL sketches exist precisely for this re-merge: hourly
        # sketches union to any coarser grain, so the served distinct
        # estimate equals the single-pass sketch over the raw rows.
        has_sketch = "distinct_sketch" in parts.columns
        if has_sketch:
            aggs.append(F.hll_union_agg("distinct_sketch").alias("_sk"))
        cols = [
            "bucket_ts",
            *keys,
            (F.col("sum_value") / F.col("n")).alias("avg_value"),
            "min_value",
            "max_value",
            "n",
        ]
        if has_sketch:
            cols.append(F.hll_sketch_estimate("_sk").alias("distinct_est"))
        out = (
            parts.groupBy(
                F.date_trunc(grain, F.col("hour_ts")).alias("bucket_ts"), *keys
            )
            .agg(*aggs)
            .select(*cols)
        )
        return out, "rollup"
    facts = spark.read.parquet(facts_path)
    out = (
        facts.groupBy(
            F.date_trunc(grain, F.col(ts_col)).alias("bucket_ts"), *keys
        )
        .agg(
            F.avg(value_col).alias("avg_value"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
            F.count(value_col).alias("n"),
        )
    )
    return out, "facts"
