"""Testdata table loaders (TESTDATA.md).

One place that knows the parquet layout, so every query builder takes
``(spark, sf_dir)`` and calls ``load(spark, sf_dir, name)``. Plain
``spark.read.parquet`` — Catalyst handles column pruning and filter
pushdown from the lazy plan; nothing to hand-tune here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .schemas import TESTDATA_TABLES

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Session-scoped DataFrame reuse: the testdata parquet is immutable, so
# handing every builder the SAME DataFrame object per (session, sf_dir,
# table) lets Spark reuse the resolved relation and its file index
# instead of re-listing + re-inferring schema on every query — a fixed
# per-query driver cost that dominates sub-second benchmarks. (Lazy
# plans only: nothing is cached/persisted executor-side.)
_LOAD_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown testdata table {name!r}; expected one of {TESTDATA_TABLES}")
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _LOAD_CACHE.get(key)
    if cached is not None:
        return cached
    df = _read_table(spark, sf_dir, name)
    _LOAD_CACHE[key] = df
    return df


# Confs every load pins (best-effort: a locked-down session keeps its
# values and the NTZ expression fallback below still yields correct
# results, just without scan pushdown on timestamp predicates):
# - nanosAsLong: some testdata generations write TIMESTAMP(NANOS),
#   which the parquet reader otherwise rejects.
# - inferTimestampNTZ.enabled=false: naive (isAdjustedToUTC=0) parquet
#   timestamps are inferred as plain TIMESTAMP (LTZ, epoch = stored
#   micros read as UTC) instead of TIMESTAMP_NTZ. Keeping the column a
#   bare scan column is what preserves min/max row-group pushdown for
#   range predicates — an expression wrap (to_utc_timestamp/cast) lands
#   in DataFilters but NOT PushedFilters, turning every time-range
#   query into a full scan at 100 TB.
# - session.timeZone=UTC: makes the LTZ interpretation (and all
#   date_trunc/window/date_format derivations) match the DuckDB
#   oracle's naive-UTC reading regardless of the caller's session tz.
_LOAD_CONFS = (
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
    ("spark.sql.session.timeZone", "UTC"),
)


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    for k, v in _LOAD_CONFS:
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked down; NTZ fallback below keeps correctness
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        # nanosAsLong read path: convert stored nanos to micros (floor —
        # same truncation DuckDB applies on read).
        from pyspark.sql.types import LongType

        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return _ntz_to_ltz(df)


def _ntz_to_ltz(df: DataFrame) -> DataFrame:
    """Fallback normalization of TIMESTAMP_NTZ columns to LTZ for
    sessions where ``spark.sql.parquet.inferTimestampNTZ.enabled``
    could not be set (then this is a no-op because the scan already
    yields LTZ).

    Note ``to_utc_timestamp(col, "UTC")`` first casts NTZ->LTZ via the
    SESSION timezone, so it pins the wall clock to UTC only because
    ``_read_table`` pins ``spark.sql.session.timeZone=UTC`` above; it
    is not session-independent on its own. Prefer the conf path: this
    expression wrap defeats parquet min/max pushdown on the column.
    """
    from pyspark.sql.types import TimestampNTZType

    ntz_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    for c in ntz_cols:
        df = df.withColumn(c, F.to_utc_timestamp(F.col(c), "UTC"))
    return df


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize a multi-consumed intermediate and truncate lineage.

    Spark's exchange reuse only collapses IDENTICAL subplans; an
    intermediate consumed through different downstream aliases (e.g. a
    set table feeding both candidate generation and both verify sides
    of a similarity join) is re-evaluated per consumer — measured 7x
    wall-time inflation on the prefix-join at 200k docs. Checkpointing
    evaluates it exactly once.

    Uses RELIABLE ``checkpoint()`` when the session has a checkpoint
    dir (survives executor loss — the right mode for long cluster
    runs); falls back to ``localCheckpoint`` (executor-pinned blocks)
    otherwise. Same policy as connected_components' per-round
    truncation.

    ``eager=False`` truncates the lineage immediately but defers the
    materializing job to the FIRST downstream action — the right mode
    for driver-loop shapes (BPE rounds) where the next action is the
    very next statement: one job then both materializes the checkpoint
    and computes the round, instead of two back-to-back jobs per round.

    The deferral applies to ``localCheckpoint`` ONLY: a non-eager
    RELIABLE checkpoint writes its files via a separate recompute job
    after the first action (the RDD is not cached), so with a
    checkpoint dir configured ``eager=False`` would compute every
    frame twice — strictly worse than the extra eager job it was meant
    to save (r11 ADVICE). The checkpoint-dir branch therefore stays
    eager regardless of the flag.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=eager)


# --- crash-safe directory swap -------------------------------------------------
#
# One state machine replaces a directory's contents atomically with
# respect to process crashes: the writer fills ``<path><staging>``, a
# completion marker lands in it, then two renames swap it in (live ->
# ``<path><trash>``, staging -> live) and the trash is dropped. Every
# crash point is converged by ``recover_swap`` at the next entry.
# A side spec with a ``{}`` is a pattern for the side's NAME beside
# ``path`` instead of a suffix (``swap_side``). Three callers, each
# keeping its own on-disk names:
#
# - persisted index (re)builds (operators/dedup_index.py bands+sigs,
#   operators/decon_index.py bands+vecs, operators/vindex.py
#   centroids+vectors): ``.build-staging`` / ``.build-trash`` with an
#   fsync'd ``_BUILD_COMPLETE`` stamped by ``publish_swap``. Two
#   sequential in-place overwrites would leave table A from the new
#   build and table B from the old one after a crash between them —
#   new bands verified against old signatures, silently;
# - the ingest node-dim snapshot (streaming/ingest.py): ``._next`` /
#   ``._old`` with Spark's ``_SUCCESS``;
# - ``rewrite_dirs`` below, the one rewrite of existing lake data
#   (sources/maintenance.py: partition and index compaction, fact and
#   index erasure; streaming/rollup.py and the erasure's rollup repair:
#   date dirs of the hourly rollup), fed by ``read_partitions`` and
#   matched to dirs by ``partition_dirs``.
#
# The filesystem follows the path: ``os`` for local paths, Hadoop
# ``FileSystem`` for ``scheme://`` paths. Rename atomicity is the
# filesystem's: posix and HDFS give it, object stores do not (they
# need a manifest swap — versioned.py's pointer publish).

BUILD_SWAP = (".build-staging", ".build-trash", "_BUILD_COMPLETE")


def _swap_fs(path: str):
    """(exists, rename, rmtree, touch, listdir) for the filesystem that
    holds ``path``; ``touch`` creates an empty file durably, ``rename``
    raises when it fails, ``listdir`` gives ``(name, bytes)`` per entry
    (``None`` bytes for a dir) and is empty for a missing dir."""
    if "://" not in path:
        import shutil

        def touch(p):
            with open(p, "w") as f:
                f.flush()
                os.fsync(f.fileno())

        def listdir(p):
            if not os.path.isdir(p):
                return []
            with os.scandir(p) as it:
                return [
                    (e.name, None if e.is_dir() else e.stat().st_size) for e in it
                ]

        return (
            os.path.exists,
            os.rename,
            lambda p: shutil.rmtree(p, ignore_errors=True),
            touch,
            listdir,
        )
    from pyspark import SparkContext

    sc = SparkContext.getOrCreate()
    hpath = sc._jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(sc._jsc.hadoopConfiguration())

    def rename(a, b):
        # Hadoop reports a failed rename by returning false: going on
        # would publish an empty staging dir in place of live data
        if not fs.rename(hpath(a), hpath(b)):
            raise OSError(f"rename {a} -> {b} failed")

    return (
        lambda p: fs.exists(hpath(p)),
        rename,
        lambda p: fs.delete(hpath(p), True),
        # close() completes the file on the NameNode; hsync is not
        # supported by every FileSystem
        lambda p: fs.create(hpath(p), True).close(),
        lambda p: [
            (s.getPath().getName(), None if s.isDirectory() else s.getLen())
            for s in fs.listStatus(hpath(p))
        ] if fs.isDirectory(hpath(p)) else [],
    )


def list_dir(path: str) -> list[tuple[str, int | None]]:
    """``(name, bytes)`` of each entry of the dir ``path`` (``None`` bytes
    for a subdir; empty for a missing dir), on the filesystem that holds
    it: the one listing of maintained lake dirs."""
    return _swap_fs(path)[4](path)


def partition_dirs(path: str, column: str) -> dict[str | None, str]:
    """{raw value: dir name} of the ``column=`` partition dirs directly
    under ``path``: names unescaped as Spark's partition discovery reads
    them (``p=a%3A1`` is ``a:1``), its null dir
    (``__HIVE_DEFAULT_PARTITION__``) keyed None. The one place a
    partition value is mapped to its dir."""
    from pyspark import SparkContext

    jvm = SparkContext.getOrCreate()._jvm
    utils = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    null_name = utils.DEFAULT_PARTITION_NAME()
    head = column + "="
    out: dict[str | None, str] = {}
    for name, size in list_dir(path):
        if size is None and name.startswith(head):
            raw = name[len(head):]
            out[None if raw == null_name else utils.unescapePathName(raw)] = name
    return out


def read_partitions(
    spark: SparkSession, path: str, column: str, values: list | None = None
) -> DataFrame:
    """The rows of ``path``'s ``column=`` dirs — only those of ``values``
    (``partition_dirs`` keys; a value without a dir reads nothing) when
    given — with ``column`` read as the raw dir value (a string, None
    for the null dir). Typed inference would not write a row back to
    the dir it came from (``d=01`` reads as 1 and writes ``d=1``), and
    a null value matches no ``isin`` filter; ``rewrite_dirs`` needs
    both."""
    root = path.rstrip("/")
    if values is None:
        paths = [root]
    else:
        dirs = partition_dirs(root, column)
        paths = [f"{root}/{dirs[v]}" for v in values if v in dirs]
        if not paths:
            return spark.read.parquet(root).filter(F.lit(False))
    reader = spark.read.option("basePath", root)
    # one dir's schema: inference reads one footer anyway, and listing
    # every dir twice would double the listing cost
    schema = StructType([
        StructField(column, StringType()) if f.name == column else f
        for f in reader.parquet(paths[0]).schema
    ])
    return reader.schema(schema).parquet(*paths)


def swap_side(path: str, spec: str) -> str:
    """One side (staging or trash) of the swap of ``path``:
    ``path + spec``, or, when ``spec`` holds ``{}``, the sibling whose
    name is ``spec`` formatted with ``path``'s own name."""
    if "{}" not in spec:
        return path + spec
    parent, name = path.rstrip("/").rsplit("/", 1)
    return f"{parent}/{spec.format(name)}"


def publish_swap(path: str, staging_suffix: str, trash_suffix: str, marker: str) -> None:
    """Swap the complete staging side (``swap_side``) in for ``path``. The
    marker is stamped durably BEFORE any rename unless the writer
    already left it, so ``recover_swap`` can always tell a finished
    staging from a half-written one. Callers run ``recover_swap``
    first, at their entry."""
    exists, rename, rmtree, touch, _ = _swap_fs(path)
    staging, trash = swap_side(path, staging_suffix), swap_side(path, trash_suffix)
    stamp = staging + "/" + marker
    if not exists(stamp):
        touch(stamp)
    if exists(path):
        rename(path, trash)
    rename(staging, path)
    rmtree(trash)


def recover_swap(path: str, staging_suffix: str, trash_suffix: str, marker: str) -> bool:
    """Converge from ANY crash point of ``publish_swap``; returns
    whether ``path`` exists afterwards.

    - trash exists, path missing, staging complete -> crash between the
      two renames: finish (staging -> path), drop trash;
    - trash exists, path missing, staging absent/incomplete -> roll
      back (trash -> path);
    - trash exists, path exists -> crash after both renames: drop trash;
    - staging complete, path missing, no trash -> first publish crashed
      between marker and rename: finish it;
    - any other staging remnant -> drop it (the original — if any — is
      intact; the caller re-runs its write).

    Afterwards neither staging nor trash exists.
    """
    exists, rename, rmtree, _, _ = _swap_fs(path)
    staging, trash = swap_side(path, staging_suffix), swap_side(path, trash_suffix)
    staged_ok = exists(staging + "/" + marker)
    has_path = exists(path)
    if not has_path and (staged_ok or exists(trash)):
        rename(staging if staged_ok else trash, path)
        has_path = True
    rmtree(trash)
    rmtree(staging)
    return has_path


def begin_staged_build(path: str) -> str:
    """Start a staged index (re)build: recover any prior crash state,
    then return a CLEAN staging dir the caller writes the whole index
    into; ``publish_swap(path, *BUILD_SWAP)`` publishes it."""
    recover_swap(path, *BUILD_SWAP)
    staging = path + BUILD_SWAP[0]
    os.makedirs(staging)
    return staging


# Sides of ``rewrite_dirs``' swaps (Spark's ``_SUCCESS`` or the one
# ``publish_swap`` stamps is the marker): an unpartitioned table is
# staged beside itself; a partitioned table's one write job lands in
# the hidden ``_REWRITE_JOB`` dir inside it, and each partition dir
# moves from there to its hidden sibling before its swap. Partition
# discovery skips names that start with ``.``, so no side is ever read
# as a partition.
REWRITE_SWAP = (".compact-staging", ".compact-trash", "_SUCCESS")
_PARTITION_SWAP = (".{}.compact-staging", ".{}.compact-trash", "_SUCCESS")
_REWRITE_JOB = ".compact-job"


def recover_rewrite(path: str) -> bool:
    """Converge every crash point of ``rewrite_dirs`` on ``path``: the
    table's own swap, the swap of each partition dir its hidden sides
    name, and a leftover job dir. Returns whether ``path`` exists.
    Maintenance commands run it at entry, before they read the table:
    a partition dir caught between its two renames is visible again
    only afterwards."""
    root = path.rstrip("/")
    if not recover_swap(root, *REWRITE_SWAP):
        return False
    _, _, rmtree, _, listdir = _swap_fs(root)
    sides = [spec.split("{}") for spec in _PARTITION_SWAP[:2]]
    for name, _ in listdir(root):
        for head, tail in sides:
            if name.startswith(head) and name.endswith(tail) and "=" in name:
                recover_swap(f"{root}/{name[len(head):-len(tail)]}", *_PARTITION_SWAP)
    rmtree(f"{root}/{_REWRITE_JOB}")
    return True


def rewrite_dirs(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    values: list = (),
    expect_rows: int | None = None,
    drop_empty: bool = False,
) -> list:
    """Replace data under ``path`` with ``df``'s rows, crash-safely: ONE
    write job into hidden staging, then one ``publish_swap`` per dir.

    - No ``partition_by``: ``path`` itself is replaced. With
      ``expect_rows`` the staged row count is checked first, and a
      mismatch raises with ``path`` untouched.
    - Otherwise the ``partition_by[0]`` dir of each of ``values``
      (``partition_dirs`` keys) gets that value's rows, laid out by the
      other columns; rows of other values are not written. ``df``
      should come from ``read_partitions``, so each row lands in the
      dir it was read from. A value that staged no rows raises before
      any swap, unless ``drop_empty``: then its dir is removed (a crash
      mid-delete leaves only rows that were all to go).

    ``df`` may read the dirs it replaces: none is renamed before the job
    commits. Callers run ``recover_rewrite(path)`` at their entry.
    Returns the values whose dirs hold rows afterwards."""
    _, rename, rmtree, _, _ = _swap_fs(path)
    root = path.rstrip("/")
    if not partition_by:
        staging = swap_side(root, REWRITE_SWAP[0])
        df.write.parquet(staging)
        if expect_rows is not None:
            staged = df.sparkSession.read.parquet(staging).count()
            if staged != expect_rows:
                rmtree(staging)
                raise RuntimeError(
                    f"rewrite of {root}: {staged} rows staged, {expect_rows} "
                    "expected; the table is left untouched"
                )
        publish_swap(root, *REWRITE_SWAP)
        return []
    job = f"{root}/{_REWRITE_JOB}"
    df.write.partitionBy(*partition_by).parquet(job)
    staged = partition_dirs(job, partition_by[0])
    live = partition_dirs(root, partition_by[0])
    emptied = [v for v in values if v not in staged and v in live]
    if emptied and not drop_empty:
        rmtree(job)
        raise RuntimeError(
            f"rewrite of {root}: no rows staged for {partition_by[0]} values "
            f"{emptied}; every dir is left untouched"
        )
    for v in values:
        if v in staged:
            target = f"{root}/{live.get(v, staged[v])}"
            rename(f"{job}/{staged[v]}", swap_side(target, _PARTITION_SWAP[0]))
            publish_swap(target, *_PARTITION_SWAP)
        elif v in live:
            rmtree(f"{root}/{live[v]}")
    rmtree(job)
    return [v for v in values if v in staged]


def values_frame(spark: SparkSession, rows: list[tuple], columns: str) -> DataFrame:
    """A small driver-side table as a SQL ``VALUES`` relation named
    ``columns`` (``"a, b"``), its values bound as parameters. It plans
    as a ``LocalTableScan`` in the JVM; ``createDataFrame`` over a
    Python list runs Python-worker tasks instead (a daemon start the
    first time in a process)."""
    # named markers: positional ``?`` ones mis-type inline tables of
    # three or more rows in Spark 4.1.2
    w = len(rows[0])
    text = ", ".join(
        "(" + ", ".join(f":p{i * w + j}" for j in range(w)) + ")"
        for i in range(len(rows))
    )
    return spark.sql(
        f"SELECT * FROM VALUES {text} AS t({columns})",
        args={f"p{i * w + j}": v for i, r in enumerate(rows) for j, v in enumerate(r)},
    )


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure a small input is spread across the cluster before a
    CPU-heavy narrow stage (shingle hashing, all-pairs joins, sketches).

    A table that arrives as one small file is one scan partition, so
    every downstream narrow transform runs single-threaded no matter how
    many cores exist. Repartition ONLY when below the session's default
    parallelism: at 100 TB inputs already carry thousands of splits and
    this is a no-op (no shuffle); locally it turns a 1-task pipeline
    into a full-width one for the cost of shuffling a few MB.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    # Use the scan's file count as the width proxy instead of
    # df.rdd.getNumPartitions(): the latter materializes an RDD
    # conversion of the analyzed plan on the driver per call. File
    # count understates width when files exceed maxPartitionBytes
    # (splittable parquet), so it can only over-trigger the
    # repartition — harmless for the small inputs this guard targets,
    # and a no-op branch at 100 TB where inputs carry thousands of
    # files.
    try:
        width = len(df.inputFiles())
    except Exception:
        width = df.rdd.getNumPartitions()
    if width >= target:
        return df
    return df.repartition(target)


_APPEND_STAGING_SUFFIX = ".append-staging"
_APPEND_PENDING_MARKER = "_APPEND_PENDING"


def has_pending_append(path: str) -> bool:
    """True when a previous ``parallel_append_ordered`` publish crashed
    mid-rename: some tables hold the append's rows and later ones do
    not (the safe direction — earlier ⊇ later — but DETECTABLE now
    instead of silently absorbed by the probes' distinct semantics).
    Re-running the extend converges and clears the marker."""
    return os.path.exists(os.path.join(path, _APPEND_PENDING_MARKER))


def warn_pending_append(path: str) -> None:
    """Report a crashed append when the index is probed: one
    ``RuntimeWarning`` while ``has_pending_append`` holds, because
    the crashed shard's rows may be in earlier tables only and the
    probe then misses their matches."""
    if has_pending_append(path):
        import warnings

        warnings.warn(
            f"index at {path} has a crashed append pending "
            f"({_APPEND_PENDING_MARKER}): this probe may miss the crashed "
            "shard's matches; re-running the extend converges and clears it",
            RuntimeWarning,
            stacklevel=3,
        )


def parallel_append_ordered(path: str, writes: list) -> None:
    """Append several frames to sibling tables of a persisted index
    with the COMPUTE in parallel and the PUBLISH in caller order.

    ``writes`` is an ordered list of ``(subdir, DataFrame)``. The
    expensive Spark write jobs land in an ephemeral staging dir
    CONCURRENTLY (guide §2.6 — independent jobs back-fill each other's
    stragglers instead of running back to back), then the publish is a
    sequence of per-file renames in the caller's order — so the
    crash-ordering invariant the old sequential appends provided
    (table N fully visible before table N+1 gains any row) holds at
    every PROCESS-crash point: a crash during staging publishes
    nothing, a crash between renames leaves earlier tables ⊇ later
    ones (the safe direction: an orphan sig/vec row is inert, the
    reverse silently drops candidates), and a leftover staging dir is
    deleted on the next entry. (Power-loss durability is NOT claimed:
    the destination directory is not fsync'd between tables, so
    renames may persist out of order across a power cut — the same
    posix-local scope as the staged build; object stores need a
    manifest swap.)

    A fsync'd ``_APPEND_PENDING`` marker brackets the publish window,
    so a crashed-mid-publish extend is DETECTABLE
    (``has_pending_append``) rather than only absorbed: appends stay
    retry-idempotent exactly as before — the probes' distinct-id
    bucket counts and distinct reports absorb duplicate rows from a
    crashed-then-retried extend, and Spark part file names are
    job-unique (UUID), so a retry's files never collide with a prior
    partial publish; the retry clears the marker after its own
    complete publish."""
    import shutil
    from concurrent.futures import ThreadPoolExecutor

    staging = path + _APPEND_STAGING_SUFFIX
    shutil.rmtree(staging, ignore_errors=True)
    pending = os.path.join(path, _APPEND_PENDING_MARKER)
    try:
        with ThreadPoolExecutor(max_workers=max(len(writes), 1)) as pool:
            futures = [
                pool.submit(
                    lambda df=df, sub=sub: df.write.parquet(
                        os.path.join(staging, sub)
                    )
                )
                for sub, df in writes
            ]
            for f in futures:
                f.result()
        # publish window: marker on (fsync'd) -> ordered renames ->
        # marker off. Any crash inside the window leaves the marker.
        with open(pending, "w") as f:
            f.flush()
            os.fsync(f.fileno())
        for sub, _ in writes:
            src = os.path.join(staging, sub)
            dst = os.path.join(path, sub)
            for name in sorted(os.listdir(src)):
                if name.startswith("part-"):
                    os.rename(os.path.join(src, name), os.path.join(dst, name))
        os.remove(pending)
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def ephemeral_dir(prefix: str) -> str:
    """Session-lifetime temp dir for queries that materialize real
    side state (index-lifecycle builds, streaming-replay landing/output
    dirs, rollup maintenance). The returned DataFrame lazily scans the
    dir, so it cannot be removed at query-build time — and an eager
    checkpoint would erase the plan evidence EXPLAIN.md exists to
    show; atexit bounds the residue to the process lifetime instead,
    so bench reps and driver sweeps clean up on exit rather than
    accumulating throwaway dirs under /tmp."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d
