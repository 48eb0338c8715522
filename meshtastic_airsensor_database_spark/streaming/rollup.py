"""Incremental hourly rollup — continuous-aggregate maintenance.

The reference recomputes its per-node plots from the full fact table on
every request (graphdata.py's per-figure ``SELECT *`` + pandas resample;
AIRWISEv0.py keeps no aggregate state at all). At 100 TB a dashboard
query can never re-scan raw facts; the engine instead maintains a
MATERIALIZED hourly rollup the way a TimescaleDB continuous aggregate /
Druid rollup segment does, updated incrementally from each ingest
micro-batch.

Scale contract (the reason this shape survives 1000 executors):

- The rollup table stores PARTIAL aggregates (sum, count, min, max,
  optional HLL sketch) — never averages — so any set of them merges
  associatively (``_merge``). The finalize step (avg = sum/count)
  happens only at query time.
- One micro-batch is one blind APPEND: its partials land as one delta
  leaf per event date, ``rollup_date=<d>/rollup_delta=<tag>/``, in one
  job that never reads the table — the fold costs the batch, not the
  day. The write is a dynamic partition overwrite keyed by the tag:
  the streaming ingest tags a delta with its (run, epoch), so a
  replayed epoch overwrites exactly its own leaves and the fold is
  idempotent without reading back what it wrote (Structured
  Streaming's epoch-keyed sink). Untagged batch callers get a fresh
  tag per fold.
- Readers merge the deltas at read time (``read_rollup``; coarser
  grains re-aggregate anyway). A delta holds rollup-grain rows
  (hours x keys), never raw-fact volume, so a read costs deltas x
  grain.
- ``compact_rollup`` (``maintain compact-rollup``) bounds the delta
  count: it folds each date's deltas into one leaf and swaps the date
  dir in crash-safely (``io_utils.publish_swap``; staging and trash
  are hidden from partition discovery). It never folds a run's newest
  epoch — the one delta a crashed stream can replay.
- On an object store a production deployment would swap the parquet
  leaves for a transactional table format (Delta/Iceberg) to get
  atomic commits; the maintenance algebra — partial aggs, epoch-keyed
  deltas, associative merge — is identical, and dynamic partition
  overwrite is the stand-in that needs no extra dependency.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io_utils import publish_swap, recover_swap, swap_side

ROLLUP_PARTITION_COL = "rollup_date"
DELTA_COL = "rollup_delta"
_AGG_COLS = ("sum_value", "cnt", "min_value", "max_value", "distinct_sketch")
# staging, trash, marker of one date dir's swap: hidden siblings
# (a leading "." keeps them out of partition discovery)
_DATE_SWAP = (".{}.compact-staging", ".{}.compact-trash", "_SUCCESS")


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
    return parts.groupBy("hour_ts", *keys).agg(*aggs).withColumn(
        ROLLUP_PARTITION_COL, F.to_date("hour_ts")
    )


def _epoch_delta(epoch_tag: str) -> str:
    """Delta tag of a ``<run>:<epoch>`` identity. Every tag starts with
    a letter (``e`` epoch, ``b`` untagged batch, ``c`` compacted), so
    partition type inference always reads a string."""
    run, _, epoch = epoch_tag.rpartition(":")
    return f"e{run}-{epoch}"


def _fresh_delta(kind: str) -> str:
    return kind + uuid.uuid4().hex


def _replayable(tags) -> set[str]:
    """The newest epoch delta of every run: the only deltas a crashed
    stream can replay (Spark re-runs only an uncommitted last epoch)."""
    newest: dict[str, tuple] = {}
    for tag in tags:
        if tag.startswith("e"):
            run, _, epoch = tag[1:].rpartition("-")
            rank = (len(epoch), epoch)  # numeric order of digit strings
            if run not in newest or rank > newest[run][0]:
                newest[run] = (rank, tag)
    return {tag for _, tag in newest.values()}


def maintain_rollup(
    batch: DataFrame,
    rollup_path: str,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    distinct_col: str | None = None,
    width: int | None = None,
    plan_probe=None,
    epoch_tag: str | None = None,
) -> str:
    """Fold one (micro-)batch of raw facts into the materialized hourly
    rollup at ``rollup_path`` as one delta: ONE job (partials + write),
    no read of the table. Designed as a ``foreachBatch`` body (the
    streaming ingest calls it per epoch) and equally usable for batch
    backfill slices.

    ``width`` (optional) coalesces the partials to that many partitions
    — the caller's upper bound on partial-row volume; the streaming
    ingest passes its batch-derived width so a trickle batch writes
    with one task.

    ``epoch_tag`` (optional, ``<run>:<epoch>``) makes the fold
    IDEMPOTENT under epoch replay — the one at-least-once residual the
    fact tables absorb with packet dedup but an additive aggregate
    cannot. The delta is named after it, and the dynamic overwrite
    replaces exactly the leaves of that name: a crash after this write
    but before the caller's epoch ledger commits re-delivers the batch,
    and the re-fold rewrites the same leaves instead of adding a
    second copy. Untagged folds get a fresh tag each.

    Returns the delta's tag."""
    # Null event times are excluded OUTRIGHT (r8 ADVICE): a null ts has
    # no hour bucket, so its partials would land in the
    # __HIVE_DEFAULT_PARTITION__ date. The facts keep their null-ts
    # rows; the time-bucketed aggregate simply has no bucket for them.
    batch = batch.filter(F.col(ts_col).isNotNull())
    tag = _epoch_delta(epoch_tag) if epoch_tag is not None else _fresh_delta("b")
    delta = _partials(batch, keys, ts_col, value_col, distinct_col).withColumn(
        DELTA_COL, F.lit(tag)
    )
    if width is not None:
        delta = delta.coalesce(width)
    if plan_probe is not None:  # tests: structural plan audit hook
        plan_probe("rollup_delta", delta)
    # The overwrite mode rides the WRITER (not the session conf, which
    # a concurrent sink thread could observe mid-toggle — r8 ADVICE).
    (
        delta.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(ROLLUP_PARTITION_COL, DELTA_COL)
        .parquet(rollup_path)
    )
    return tag


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem of ``path``, Path constructor)."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    return hpath(path).getFileSystem(spark._jsc.hadoopConfiguration()), hpath


class RollupLayoutError(RuntimeError):
    """The rollup holds files that no delta owns, so Spark cannot read
    it as one table."""


def _date_deltas(spark: SparkSession, rollup_path: str) -> dict[str, list[str]]:
    """{date: [delta tags]} of the rollup, after converging every
    crashed date swap (a kill between its two renames leaves the date
    only in its hidden trash). Raises ``RollupLayoutError`` naming each
    date dir that holds data files outside any delta leaf (the
    one-level layout written before deltas): read together with deltas,
    such a dir fails partition discovery."""
    fs, hpath = _fs(spark, rollup_path)
    if not fs.exists(hpath(rollup_path)):
        return {}
    for st in fs.listStatus(hpath(rollup_path)):
        name = st.getPath().getName()
        for spec in _DATE_SWAP[:2]:
            head, _, tail = spec.partition("{}")
            if name.startswith(head + ROLLUP_PARTITION_COL) and name.endswith(tail):
                date_dir = f"{rollup_path}/{name[len(head):-len(tail)]}"
                recover_swap(date_dir, *_DATE_SWAP)
    out, loose = {}, []
    for st in fs.listStatus(hpath(rollup_path)):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(ROLLUP_PARTITION_COL + "="):
            children = fs.listStatus(st.getPath())
            out[name.split("=", 1)[1]] = [
                c.getPath().getName().split("=", 1)[1]
                for c in children
                if c.getPath().getName().startswith(DELTA_COL + "=")
            ]
            if any(c.isFile() and not c.getPath().getName().startswith(("_", "."))
                   for c in children):
                loose.append(f"{rollup_path}/{name}")
    if loose:
        raise RollupLayoutError(
            f"rollup {rollup_path}: data files outside any {DELTA_COL}= leaf "
            f"(the one-level layout written before append-only deltas) in "
            f"{', '.join(sorted(loose))}; rebuild these dates from the facts"
        )
    return out


def replace_dates(
    spark: SparkSession, rollup_path: str, dates: list[str], build
) -> None:
    """Replace the dir of each date in ``dates`` with that date's rows
    of ``build()`` (rollup rows; without a delta column they form one
    fresh compacted delta), one crash-safe swap per date; a date left
    with no rows loses its dir. ``build`` runs after every crashed swap of those dates has
    converged, since it may read them. The swaps rename the dirs the
    ingest appends to: run this with the ingest stopped, and re-run a
    crashed call before the ingest restarts."""
    root = rollup_path.rstrip("/")
    date_dirs = {d: f"{root}/{ROLLUP_PARTITION_COL}={d}" for d in dates}
    for date_dir in date_dirs.values():
        recover_swap(date_dir, *_DATE_SWAP)
    rows = build()
    if DELTA_COL not in rows.columns:
        rows = rows.withColumn(DELTA_COL, F.lit(_fresh_delta("c")))
    rows = rows.localCheckpoint(eager=True)  # may read the dirs it replaces
    day = F.col(ROLLUP_PARTITION_COL).cast("string")
    nonempty = {r[0] for r in rows.select(day).distinct().collect()}
    fs, hpath = _fs(spark, root)
    for d, date_dir in date_dirs.items():
        if d not in nonempty:
            fs.delete(hpath(date_dir), True)
            continue
        rows.filter(day == d).drop(ROLLUP_PARTITION_COL).write.partitionBy(
            DELTA_COL
        ).parquet(swap_side(date_dir, _DATE_SWAP[0]))
        publish_swap(date_dir, *_DATE_SWAP)


@dataclass(frozen=True)
class RollupCompactionReport:
    dates_scanned: int
    dates_compacted: int
    max_deltas_before: int
    max_deltas_after: int
    deltas_kept_for_replay: int


def compact_rollup(spark: SparkSession, rollup_path: str) -> RollupCompactionReport:
    """Fold each date's deltas into ONE ``c``-tagged leaf, keeping
    apart each run's newest epoch delta (folding it would let a replay
    of that epoch double-count). Keys are the columns that are neither
    aggregates nor partition columns. Idempotent; same rows served."""
    root = rollup_path.rstrip("/")
    deltas = _date_deltas(spark, root)
    kept = _replayable(t for tags in deltas.values() for t in tags)
    fold = {}  # date -> the deltas folded into its new leaf
    for d, tags in deltas.items():
        foldable = [t for t in tags if t not in kept]
        if len(foldable) > 1:
            fold[d] = foldable

    def build() -> DataFrame:
        parts = spark.read.option("basePath", root).parquet(
            *[f"{root}/{ROLLUP_PARTITION_COL}={d}" for d in fold]
        )
        keys = [
            c for c in parts.columns
            if c not in ("hour_ts", *_AGG_COLS, ROLLUP_PARTITION_COL, DELTA_COL)
        ]
        leaf = F.when(F.col(DELTA_COL).isin(list(kept)), F.col(DELTA_COL)).otherwise(
            F.lit(_fresh_delta("c"))
        )
        return _merge(parts.withColumn(DELTA_COL, leaf), [*keys, DELTA_COL])

    if fold:
        replace_dates(spark, root, list(fold), build)
    after = [len(tags) - len(fold[d]) + 1 if d in fold else len(tags)
             for d, tags in deltas.items()]
    return RollupCompactionReport(
        dates_scanned=len(deltas),
        dates_compacted=len(fold),
        max_deltas_before=max(map(len, deltas.values()), default=0),
        max_deltas_after=max(after, default=0),
        deltas_kept_for_replay=sum(t in kept for tags in deltas.values() for t in tags),
    )


def read_rollup(spark: SparkSession, rollup_path: str, keys: list[str]) -> DataFrame:
    """Merge the stored deltas and finalize them into the user-facing
    hourly aggregate view (``finalize_rollup``)."""
    return finalize_rollup(spark.read.parquet(rollup_path), keys)


def finalize_rollup(stored: DataFrame, keys: list[str]) -> DataFrame:
    """Merge stored partial rows and finalize them into the user-facing
    hourly aggregate view (avg derived at read time — the stored state
    stays mergeable)."""
    parts = _merge(stored, keys)
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
