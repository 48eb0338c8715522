"""Table maintenance: small-file compaction and right-to-erasure
(SURVEY.md §4.2 layout).

Streaming ingest appends one file set per micro-batch
(streaming/ingest.py), so a partition that receives N micro-batches
holds >= N files. At 100 TB this is the classic small-file problem:
file-listing time grows linearly, every scan task opens many tiny
footers, and row-group-level pushdown degrades (statistics per tiny
file prune nothing). The fix is periodic compaction — rewrite only the
partitions whose file layout is bad, leaving healthy partitions
byte-identical (their files are never listed for rewrite, so
concurrent readers of other partitions are unaffected).

Compaction and erasure here are the engine-native dual of the
reference's external database vacuuming and deleting its own rows: the
parquet lake needs the engine to do it. Every rewrite of existing data
— compaction, fact and index erasure, the erasure's rollup repair —
goes through ONE crash-safe primitive, ``io_utils.rewrite_dirs``: one
write job stages the new rows in hidden dirs, then each replaced
partition dir (or unpartitioned table) is swapped in with two renames
(``io_utils.publish_swap``); the rows are read by path with the
partition value as its raw dir string (``io_utils.read_partitions``),
so each goes back to the dir it came from, and only erasure may leave
a dir with no rows. Every command first runs
``io_utils.recover_rewrite`` on the tables it touches, which converges
any crash point of a previous run, so a plain re-run after a crash is
the recovery. Policy:

- a partition needs compaction when it holds more than one file AND
  its mean file size is under ``small_file_mb`` (many tiny appends);
- rewrite coalesces the partition to ``ceil(bytes / target_mb)``
  files via a repartition of just that partition's rows;
- only the rewritten partitions' directories are replaced, and the
  operation is idempotent (re-running compacts nothing the second
  time).
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io_utils import (
    BUILD_SWAP, REWRITE_SWAP, list_dir, partition_dirs, read_partitions,
    recover_rewrite, recover_swap, rewrite_dirs, values_frame,
)


@dataclass(frozen=True)
class CompactionReport:
    partitions_total: int
    partitions_compacted: int
    files_before: int
    files_after: int


def _dir_file_stats(path: str) -> tuple[int, int]:
    """(n_parquet_files, total_bytes) of one table or partition dir."""
    sizes = [
        n for name, n in list_dir(path) if n is not None and name.endswith(".parquet")
    ]
    return len(sizes), sum(sizes)


def _partition_file_stats(path: str, partition_by: str) -> dict:
    """{partition value: (n_files, total_bytes)} by directory listing
    (driver-side — the same cost any planner pays), keyed as
    ``io_utils.partition_dirs`` keys the dirs."""
    return {
        v: _dir_file_stats(f"{path.rstrip('/')}/{name}")
        for v, name in partition_dirs(path, partition_by).items()
    }


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_by: str,
    target_mb: int = 256,
    small_file_mb: float = 32.0,
) -> CompactionReport:
    """Compact the partitions of a ``partition_by``-partitioned parquet
    table whose file layout is degenerate. Returns a report of what was
    rewritten. Partitions already healthy are not read, not rewritten,
    and not renamed (``rewrite_dirs`` swaps only the listed dirs)."""
    recover_rewrite(path)
    stats = _partition_file_stats(path, partition_by)
    small = small_file_mb * 1024 * 1024
    bad = {
        pv: (n, total)
        for pv, (n, total) in stats.items()
        if n > 1 and total / n < small
    }
    files_before = sum(n for n, _ in stats.values())
    if not bad:
        return CompactionReport(len(stats), 0, files_before, files_before)

    # read by path: only the bad partitions are listed and scanned
    subset = read_partitions(spark, path, partition_by, list(bad))
    # per-partition output file count: ceil(partition_bytes / target) —
    # most compacted partitions collapse to ONE file (they were small
    # by selection); a large backlog partition still splits into
    # target-sized files. The counts ride in as a broadcast-joined tiny
    # (partition -> n_out) VALUES relation, NOT a chained CASE WHEN per
    # bad partition — thousands of bad partitions would build a
    # thousands-deep expression tree (analyzer cost, codegen blowup);
    # the join keeps the plan constant-size at any backlog (r10 verdict
    # #6). The write is bucketed by (partition, bucket) so each output
    # task writes one file of one partition.
    n_out_map = values_frame(
        spark,
        [
            (pv, math.ceil(total / (target_mb * 1024 * 1024)) or 1)
            for pv, (_, total) in bad.items()
        ],
        "_pv, _n_out",
    )
    joined = subset.join(
        F.broadcast(n_out_map),
        subset[partition_by].eqNullSafe(n_out_map["_pv"]),  # the null dir too
    )
    bucket = F.pmod(
        F.xxhash64(*[F.col(c) for c in subset.columns]), F.col("_n_out")
    )
    rewritten = joined.repartition(F.col(partition_by), bucket).drop(
        "_pv", "_n_out"
    )
    rewrite_dirs(rewritten, path, (partition_by,), list(bad))

    after = _partition_file_stats(path, partition_by)
    return CompactionReport(
        partitions_total=len(stats),
        partitions_compacted=len(bad),
        files_before=files_before,
        files_after=sum(n for n, _ in after.values()),
    )


@dataclass(frozen=True)
class ErasureReport:
    """What a right-to-erasure pass touched (and, as important, what it
    provably did not)."""

    rows_deleted: int
    fact_partitions_total: int
    fact_partitions_rewritten: int
    fact_partitions_removed: int
    rollup_dates_rewritten: int
    rollup_mode: str  # 'row-drop' | 'rebuild' | 'none'


def _erase_marker_path(fact_path: str) -> str:
    # underscore-prefixed so parquet readers ignore it (the _SUCCESS
    # convention); lives under the fact path so the intent travels with
    # the table it mutates
    return os.path.join(fact_path, "_erase-intent.json")


def _write_erase_marker(fact_path: str, intent: dict) -> None:
    """Durable intent write: temp file + fsync + atomic rename, so a
    crash during the write itself can never leave a half-written
    marker that recovery would misread."""
    import json

    marker = _erase_marker_path(fact_path)
    tmp = marker + ".tmp"
    try:
        payload = json.dumps(intent)
    except TypeError as exc:
        raise ValueError(
            "erase_key: key_value (and rollup parameters) must be "
            "JSON-serializable so the erasure intent can be persisted "
            f"for crash recovery; got {intent.get('key_value')!r}"
        ) from exc
    with open(tmp, "w") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, marker)


def _read_erase_marker(fact_path: str) -> dict | None:
    import json

    marker = _erase_marker_path(fact_path)
    if not os.path.exists(marker):
        return None
    return json.load(open(marker))


def _repair_rollup(
    spark: SparkSession,
    fact_path: str,
    partition_by: str,
    rollup_path: str,
    rollup_keys: list[str],
    key_col: str,
    key_value,
    ts_col: str,
    value_col: str,
    distinct_col: str | None,
    touched_dates: list[str],
) -> str:
    """Phase 3: retract the subject from the materialized rollup,
    bounded by ``touched_dates`` (the subject's event-time spread,
    captured before its fact rows vanished). The touched date dirs are
    replaced whole through ``rewrite_dirs`` (one write job for all of
    them), so a delta leaf owned wholly by the subject goes with it.
    Two regimes, both IDEMPOTENT — safe to re-run from the intent
    marker after any crash: row-drop (subject is a rollup key: its rows
    are dropped from every delta, which keeps its tag — a replay of the
    newest epoch still overwrites its own leaf) and rebuild
    (non-retractable min/max/sketch partials: the dates are recomputed
    from the post-erasure facts into one fresh leaf). The swaps rename
    the dirs the ingest appends to: run this with the ingest stopped.
    Returns the mode used."""
    from ..streaming.rollup import (
        DELTA_COL, ROLLUP_PARTITION_COL, _fresh_delta, _merge, _partials,
    )

    recover_rewrite(rollup_path)
    row_drop = key_col in rollup_keys
    if row_drop:
        rows = read_partitions(
            spark, rollup_path, ROLLUP_PARTITION_COL, touched_dates
        ).filter(~F.col(key_col).eqNullSafe(F.lit(key_value)))
    elif not _partition_file_stats(fact_path, partition_by):
        # the subject owned the ENTIRE fact table (every partition dir
        # is gone, only the intent marker remains) — nothing to rebuild
        # from; every touched date is dropped
        rows = spark.read.parquet(rollup_path).filter(F.lit(False))
    else:
        post = spark.read.parquet(fact_path).filter(
            F.to_date(F.col(ts_col)).cast("string").isin(touched_dates)
        )
        rows = _merge(
            _partials(post, rollup_keys, ts_col, value_col, distinct_col),
            rollup_keys,
        ).withColumn(DELTA_COL, F.lit(_fresh_delta("c")))
    rewrite_dirs(
        rows, rollup_path, (ROLLUP_PARTITION_COL, DELTA_COL), touched_dates,
        drop_empty=True,
    )
    return "row-drop" if row_drop else "rebuild"


def _rewrite_partitions_without(
    spark: SparkSession,
    path: str,
    partition_by: str,
    subject,
    affected: list[str],
) -> tuple[int, int]:
    """Shared tail of BOTH erasure paths (facts and indexes): replace
    the affected partitions by their rows without the subject's
    (``rewrite_dirs``; a partition wholly owned by the subject loses
    its dir). Idempotent: with the subject already gone, every affected
    partition rewrites to itself. The caller owns the subject predicate
    — it must be NULL-SAFE (a NULL id row must evaluate subject=False,
    never NULL, or ``~subject`` silently drops it from the rewrite).
    Returns (partitions_rewritten, partitions_removed)."""
    kept = read_partitions(spark, path, partition_by, affected).filter(~subject)
    nonempty = rewrite_dirs(kept, path, (partition_by,), affected, drop_empty=True)
    return len(nonempty), len(affected) - len(nonempty)


def _locate(rows: DataFrame, partition_by: str, subject) -> tuple[list, int]:
    """(the partition values holding ``subject`` rows, their row count)
    from ONE columnar scan of ``rows`` (a ``read_partitions`` frame, so
    the values name their dirs)."""
    located = rows.filter(subject).groupBy(partition_by).count().collect()
    return [r[0] for r in located], int(sum(r["count"] for r in located))


def recover_erasure(spark: SparkSession, fact_path: str) -> ErasureReport | None:
    """Complete a crashed ``erase_key`` from its persisted intent
    marker. Returns None when no intent is pending; otherwise re-runs
    the unfinished phases with the MARKER's parameters (not the current
    caller's) and clears the marker.

    Every crash point converges: a crash before/mid phase 2 leaves
    subject rows that this pass re-locates and erases; a crash between
    phase 2 and phase 3 — the state that used to leave the subject's
    contribution in the rollup FOREVER (the retry found zero fact rows
    and skipped the repair) — is repaired from the marker's recorded
    ``touched_dates``; a crash after phase 3 just re-runs the
    idempotent repair and clears the marker. A crash inside either
    phase's ``rewrite_dirs`` is converged first (``recover_rewrite`` on
    the facts here, on the rollup in the repair). ``erase_key`` calls
    this at entry, so a plain re-run after any crash is the recovery."""
    recover_rewrite(fact_path)
    intent = _read_erase_marker(fact_path)
    if intent is None:
        return None
    partition_by = intent["partition_by"]
    key_col, key_value = intent["key_col"], intent["key_value"]
    subject = F.col(key_col).eqNullSafe(F.lit(key_value))
    affected, rows_deleted = (
        _locate(read_partitions(spark, fact_path, partition_by), partition_by, subject)
        if _partition_file_stats(fact_path, partition_by)
        else ([], 0)
    )
    n_rewritten, n_removed = (
        _rewrite_partitions_without(spark, fact_path, partition_by, subject, affected)
        if affected
        else (0, 0)
    )
    rollup_mode, rollup_dates = "none", 0
    if intent.get("rollup_path") is not None:
        rollup_mode = _repair_rollup(
            spark,
            fact_path,
            partition_by,
            intent["rollup_path"],
            intent["rollup_keys"],
            key_col,
            key_value,
            intent["ts_col"],
            intent["value_col"],
            intent.get("distinct_col"),
            intent["touched_dates"],
        )
        rollup_dates = len(intent["touched_dates"])
    os.remove(_erase_marker_path(fact_path))
    return ErasureReport(
        rows_deleted=rows_deleted,
        fact_partitions_total=len(
            _partition_file_stats(fact_path, partition_by)
        ),
        fact_partitions_rewritten=n_rewritten,
        fact_partitions_removed=n_removed,
        rollup_dates_rewritten=rollup_dates,
        rollup_mode=rollup_mode,
    )


def erase_key(
    spark: SparkSession,
    fact_path: str,
    partition_by: str,
    key_col: str,
    key_value,
    rollup_path: str | None = None,
    rollup_keys: list[str] | None = None,
    ts_col: str = "ts",
    value_col: str = "value",
    distinct_col: str | None = None,
) -> ErasureReport:
    """Right-to-erasure over the parquet lake: delete every fact row of
    one subject (``key_col = key_value``) by rewriting ONLY the
    partitions that contain it, then repair the materialized hourly
    rollup. The 100-TB discipline is what is NOT done: no full-table
    rewrite, no full rollup recompute, untouched partitions stay
    byte-identical (their files are never listed for rewrite).

    Phase 1 — locate: a column-pruned scan of (partition, key) finds the
    affected partitions and the subject's row count; parquet row-group
    min/max stats on ``key_col`` prune most files without reading data
    pages.

    Phase 2 — facts: affected partitions are re-read, the subject's
    rows filtered out (null-safe), and swapped in crash-safely
    (``io_utils.rewrite_dirs``: one staged write job, one two-rename
    swap per partition). A partition wholly owned by the subject
    produces zero output rows and loses its directory.

    Phase 3 — rollup (when ``rollup_path`` is given): two regimes,
    both one ``rewrite_dirs`` of the affected DATE dirs. If ``key_col``
    is one of the rollup's grouping keys, the subject's contribution
    lives in its own rollup rows — retraction is a plain row-drop
    rewrite (cheap, no fact rescan). Otherwise sum/count partials would need subtraction but
    min/max and HLL sketches are NOT retractable, so the affected dates
    are REBUILT from the post-erasure facts — bounded by the subject's
    event-time spread, never the table.

    Crash recovery (r10 verdict #2): phases 2 and 3 are separate
    writes, so an intent marker (subject key + ``touched_dates`` +
    rollup parameters, ``_erase-intent.json`` under the fact path) is
    persisted BEFORE phase 2 and cleared only after phase 3 completes.
    Entry runs ``recover_erasure`` first: a leftover marker completes
    the unfinished phases with the MARKER's parameters — in particular
    the rollup repair still happens when a phase-2/phase-3 crash left
    zero subject fact rows, the state that previously made the
    subject's rollup contribution permanent. A plain re-run after any
    crash therefore converges to the fully-erased end state.
    """
    # Validate BEFORE any mutation: a rollup maintained with an HLL
    # distinct sketch must be rebuilt WITH it (rollup 'rebuild' regime),
    # and discovering that after the fact rows are already rewritten
    # would leave a half-done erasure. Fail loudly up front instead.
    if (
        rollup_path is not None
        and rollup_keys is not None
        and key_col not in rollup_keys
        and distinct_col is None
        and "distinct_sketch" in spark.read.parquet(rollup_path).columns
    ):
        raise ValueError(
            "erase_key: the rollup at %r carries a distinct_sketch "
            "column; pass distinct_col=<tracked column> so the "
            "rebuilt date partitions preserve it" % rollup_path
        )

    # complete any crashed prior erasure FIRST (its intent, its params)
    recover_erasure(spark, fact_path)

    facts = read_partitions(spark, fact_path, partition_by)
    subject = F.col(key_col).eqNullSafe(F.lit(key_value))
    affected, rows_deleted = _locate(facts, partition_by, subject)
    n_parts_total = len(_partition_file_stats(fact_path, partition_by))
    if not affected:
        return ErasureReport(0, n_parts_total, 0, 0, 0, "none")

    # the subject's event-time spread, captured BEFORE the rows vanish
    touched_dates = [
        str(r["_d"])
        for r in facts.filter(subject)
        .select(F.to_date(F.col(ts_col)).alias("_d"))
        .distinct()
        .collect()
    ]

    # intent marker BEFORE the first mutation: everything phase 3 needs
    # survives the fact rows' disappearance
    _write_erase_marker(
        fact_path,
        {
            "partition_by": partition_by,
            "key_col": key_col,
            "key_value": key_value,
            "touched_dates": touched_dates,
            "rollup_path": rollup_path if rollup_keys is not None else None,
            "rollup_keys": rollup_keys,
            "ts_col": ts_col,
            "value_col": value_col,
            "distinct_col": distinct_col,
        },
    )

    n_rewritten, removed = _rewrite_partitions_without(
        spark, fact_path, partition_by, subject, affected
    )

    rollup_mode = "none"
    rollup_dates = 0
    if rollup_path is not None and rollup_keys is not None:
        rollup_mode = _repair_rollup(
            spark, fact_path, partition_by, rollup_path, rollup_keys,
            key_col, key_value, ts_col, value_col, distinct_col,
            touched_dates,
        )
        rollup_dates = len(touched_dates)

    os.remove(_erase_marker_path(fact_path))
    return ErasureReport(
        rows_deleted=rows_deleted,
        fact_partitions_total=n_parts_total,
        fact_partitions_rewritten=n_rewritten,
        fact_partitions_removed=removed,
        rollup_dates_rewritten=rollup_dates,
        rollup_mode=rollup_mode,
    )


# --- unpartitioned index compaction ------------------------------------------
#
# The persisted indexes (operators/dedup_index.py bands/sigs,
# operators/decon_index.py bands/vecs) grow by APPEND-only extends —
# one file set per ingested shard. Months of shards re-create the
# small-file problem on the index itself: probe scans open thousands
# of tiny footers and the broadcast-probed groupBy reads degenerate
# row groups whose statistics prune nothing. A plain mode("overwrite")
# of the same path is read-your-own-input AND leaves a crash window
# with the data deleted; ``rewrite_dirs`` without partition columns
# replaces the whole dir instead.


@dataclass(frozen=True)
class DirCompactionReport:
    files_before: int
    files_after: int
    rows: int | None  # None = healthy noop (row count never computed)
    compacted: bool  # False = already healthy, nothing rewritten


def compact_unpartitioned(
    spark: SparkSession,
    path: str,
    target_mb: int = 256,
    small_file_mb: float = 32.0,
) -> DirCompactionReport:
    """Compact an UNpartitioned append-grown parquet dir, crash-safely.

    Policy mirrors compact_partitions: rewrite when the dir holds more
    than one file AND the mean file size is under ``small_file_mb``;
    output ``ceil(bytes / target_mb)`` files via coalesce (narrow — no
    shuffle; a compaction is a rewrite, not a re-cluster). The rewrite
    is ``rewrite_dirs``' whole-dir swap, row-count-verified against the
    original BEFORE the swap; ``recover_rewrite`` at entry converges any
    crash point of a previous run. Concurrent readers of the same path
    can observe a missing directory for the instant between the renames
    — run this in the ingest maintenance window, the same
    single-maintainer discipline landing-file retirement documents
    (deploy/compose.yaml).

    Local/posix paths only (the versioned.py::write_snapshot caveat:
    object stores need a manifest or conditional-put swap)."""
    if "://" in path and not path.startswith("file:"):  # pragma: no cover
        raise NotImplementedError(
            "compact_unpartitioned targets a local/posix path in this "
            "container; object stores need a manifest-based swap"
        )
    recover_rewrite(path)
    n_files, total = _dir_file_stats(path)
    if n_files <= 1 or total / n_files >= small_file_mb * 1024 * 1024:
        # healthy noop costs a directory LISTING, never a table scan —
        # the maintenance pass over a 100-TB index must be free to run
        # on a schedule (rows=None: the count was never computed)
        return DirCompactionReport(n_files, n_files, None, False)

    df = spark.read.parquet(path)
    rows_before = df.count()
    n_out = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    rewrite_dirs(df.coalesce(n_out), path, expect_rows=rows_before)
    n_after, _ = _dir_file_stats(path)
    return DirCompactionReport(n_files, n_after, rows_before, True)


def _index_subtables(path: str) -> list[str]:
    """Sorted subtable dir names of a persisted index, after converging
    every crashed rewrite of each (``recover_rewrite``). A kill between
    a whole-subtable swap's two renames leaves the base dir MISSING and
    only ``<sub>.compact-trash`` on disk — a listing that filters the
    suffix dirs would silently skip the subtable, so every base name
    the suffix dirs imply is recovered BEFORE listing."""
    suffixes = REWRITE_SWAP[:2]
    bases = {
        next((n[: -len(s)] for s in suffixes if n.endswith(s)), n)
        for n in os.listdir(path)
        if os.path.isdir(os.path.join(path, n))
    }
    return sorted(b for b in bases if recover_rewrite(os.path.join(path, b)))


def compact_index(
    spark: SparkSession,
    path: str,
    target_mb: int = 256,
    small_file_mb: float = 32.0,
) -> dict[str, DirCompactionReport]:
    """Compact every unpartitioned parquet subtable of a persisted
    index directory (dedup_index's bands/sigs, decon_index's
    bands/vecs). Subdirectories in partitioned layout (``key=value``
    children — e.g. vindex's cluster-partitioned vectors) are SKIPPED:
    their maintenance tool is compact_partitions, whose per-partition
    rewrite preserves the partition pruning the layout exists for.
    Probe results are unchanged by construction (same rows, fewer
    files); the lifecycle tests pin this."""
    out: dict[str, DirCompactionReport] = {}
    for name in _index_subtables(path):
        sub = os.path.join(path, name)
        children = os.listdir(sub)
        if any("=" in c and os.path.isdir(os.path.join(sub, c)) for c in children):
            continue  # partitioned layout -> compact_partitions territory
        if not any(c.endswith(".parquet") for c in children):
            continue
        out[name] = compact_unpartitioned(spark, sub, target_mb, small_file_mb)
    return out


# --- right-to-erasure for persisted indexes (r11) -----------------------------


@dataclass(frozen=True)
class IndexErasureReport:
    removed: dict[str, int]  # subtable -> rows removed
    partitions_rewritten: int  # partitioned subtables (vindex vectors)
    partitions_removed: int  # wholly-owned partition dirs deleted
    skipped: tuple[str, ...]  # subtables with no id column (aggregates)


def _null_safe_isin(id_col: str, ids: list):
    """Subject predicate for erasure: NULL ids are NEVER the subject.
    Bare ``isin`` is three-valued — NULL.isin(...) is NULL, and
    ``~NULL`` is NULL, so a filter(~subject) would silently DROP
    NULL-id rows from a rewrite (data loss) and break the staged
    row-count verification. ``isNotNull() & isin`` is equally
    null-safe (FALSE AND NULL = FALSE, so ~subject is TRUE for NULL
    ids) and — unlike a coalesce() wrapper, which Catalyst cannot
    translate to a data-source filter — keeps the footprint-locate
    scan eligible for parquet In/IsNotNull row-group pruning."""
    return F.col(id_col).isNotNull() & F.col(id_col).isin(ids)


def erase_from_index(
    spark: SparkSession,
    path: str,
    ids: list,
    id_cols: tuple[str, ...] = ("_id", "vec_id"),
) -> IndexErasureReport:
    """Right-to-erasure for a persisted index directory: remove every
    row carrying one of ``ids`` from every subtable that stores
    per-subject rows. ``erase_key`` scrubs the fact lake; a subject's
    data ALSO lives in the indexes built over it — dedup_index's
    bands/sigs, decon_index's bands/vecs (unpartitioned, id ``_id``),
    vindex's cluster-partitioned vectors (id ``vec_id``) — and an
    erasure that stops at the facts leaves the subject discoverable by
    every probe. ``ids`` is an erasure request: subject-sized and
    driver-known (the erase_key regime), shipped as an ``isin``
    literal.

    Mechanics per subtable, both through ``io_utils.rewrite_dirs``
    (``recover_rewrite`` converges every crash state at entry):

    - UNpartitioned: a whole-dir filtered rewrite, row-count verified
      (staged == before - subject, or the original is left untouched);
      a zero-subject table is a NOOP detected by ONE aggregate scan
      (total + subject counts in the same job) that never rewrites a
      byte.
    - Partitioned (``key=value`` children): partition-SELECTIVE — the
      affected partitions come from a columnar (id, partition)
      projection, only they are rewritten, and a partition wholly
      owned by the subject loses its dir (``erase_key``'s phase 2).
      Healthy partitions are never read or touched.
    - Subtables with NO id column (vindex's ``centroids``) are skipped
      and reported: trained centroids are statistical AGGREGATES
      (per-dimension means), not per-subject rows — the subject's
      residual influence on centroid coordinates is the same
      retractability question ``erase_key`` documents for sketch
      rollups; a caller under a strict interpretation rebuilds the
      index (``build_ivf_index``) after erasure.

    Ordering: unpartitioned DATA tables (sigs/vecs) are erased before
    their BAND tables — a crash in between leaves band rows whose
    verify rows are gone, which makes the subject UNREPORTABLE (the
    inner verify join drops it), i.e. the crash state already honors
    the erasure; the re-run cleans the rest. Idempotent throughout: a
    second run finds zero subject rows everywhere and touches nothing.

    Cost honesty: an UNpartitioned subtable has no subject-aligned
    layout, so a positive erase rewrites the WHOLE subtable (the
    noop check itself is only a columnar id scan). Batch erasure
    requests into one call where regulation allows — each call's
    rewrite cost is the subtable's size, not the request's; only the
    cluster-partitioned vectors table erases proportionally to the
    subject's footprint.
    """
    # Converge any crashed staged BUILD first: a build that crashed
    # between publish_swap's renames can leave the complete OLD index
    # (subject's rows included) readable in <path>.build-trash — a
    # residue an erasure tool must clear, not leave for the next
    # build/extend to find. _index_subtables then converges any crashed
    # rewrite of each subtable, whose trash would otherwise hide the
    # subtable or a partition of it (reporting success while the
    # subject's rows survive).
    recover_swap(path, *BUILD_SWAP)
    # bands LAST (see ordering note); alphabetical otherwise
    sub_names = sorted(_index_subtables(path), key=lambda n: n == "bands")
    removed: dict[str, int] = {}
    skipped: list[str] = []
    parts_rewritten = 0
    parts_removed = 0
    for name in sub_names:
        sub = os.path.join(path, name)
        children = os.listdir(sub)
        partitioned = [
            c for c in children if "=" in c and os.path.isdir(os.path.join(sub, c))
        ]
        if not partitioned and not any(c.endswith(".parquet") for c in children):
            continue
        partition_by = partitioned[0].split("=", 1)[0] if partitioned else None
        df = (
            read_partitions(spark, sub, partition_by)
            if partitioned
            else spark.read.parquet(sub)
        )
        id_col = next((c for c in id_cols if c in df.columns), None)
        if id_col is None:
            skipped.append(name)
            continue
        subject = _null_safe_isin(id_col, ids)
        if partitioned:
            affected, removed[name] = _locate(df, partition_by, subject)
            if not affected:
                continue
            rw, rm = _rewrite_partitions_without(
                spark, sub, partition_by, subject, affected
            )
            parts_rewritten += rw
            parts_removed += rm
        else:
            counts = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(subject, 1).otherwise(0)).alias("s"),
            ).first()
            removed[name] = int(counts["s"] or 0)
            if removed[name]:
                rewrite_dirs(
                    df.filter(~subject), sub,
                    expect_rows=int(counts["n"]) - removed[name],
                )
    return IndexErasureReport(
        removed, parts_rewritten, parts_removed, tuple(skipped)
    )
