"""Versioned corpus snapshots: lightweight time travel over parquet.

Reproducible training runs need DATA versioning: "train on exactly the
corpus curation produced last Tuesday" must survive later re-curation.
This module gives the engine's parquet tables immutable, numbered
snapshots with an atomically-published latest pointer:

    <path>/v=00001/   immutable parquet snapshot (never rewritten)
    <path>/v=00002/
    <path>/_LATEST    pointer file holding the published version number

Write discipline: a new snapshot's data lands fully under its own
``v=N`` directory FIRST; only then does the pointer move. Readers
resolve through the pointer, so a writer crash mid-snapshot leaves an
orphan directory that no reader ever sees (and the next write simply
claims N+1). On a local filesystem the pointer swap is an atomic
``os.replace``; on object stores it is delete+rename — honest caveat:
true atomicity there needs the store's conditional-put, which is out
of scope for this container.

Versions are immutable, so a keyed diff of any two versions is exact,
and ``expire_snapshots`` reclaims history without touching what the
pointer can still reach. No counterpart in the reference (its Postgres
tables are mutable in place); this is the engine-native answer to the
LLM-pipeline reproducibility requirement.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

_PTR = "_LATEST"
_VDIR = re.compile(r"^v=(\d{5})$")


def _is_local(path: str) -> bool:
    return "://" not in path or path.startswith("file:")


def _vdir(path: str, version: int) -> str:
    return os.path.join(path, f"v={version:05d}")


def snapshot_versions(path: str) -> list[int]:
    """Published version numbers, ascending. A directory without a
    _SUCCESS marker (in-flight or crashed write) is not listed."""
    if not os.path.isdir(path):
        return []
    out = []
    for name in os.listdir(path):
        m = _VDIR.match(name)
        if m and os.path.exists(os.path.join(path, name, "_SUCCESS")):
            out.append(int(m.group(1)))
    return sorted(out)


def latest_version(path: str) -> int | None:
    ptr = os.path.join(path, _PTR)
    if not os.path.exists(ptr):
        return None
    return int(open(ptr).read().strip())


def write_snapshot(df: DataFrame, path: str) -> int:
    """Write the next snapshot and publish it. Returns its version."""
    if not _is_local(path):  # pragma: no cover - object-store caveat
        raise NotImplementedError(
            "write_snapshot targets a local/posix path in this container; "
            "object stores need a conditional-put pointer swap"
        )
    existing = [
        int(m.group(1))
        for name in (os.listdir(path) if os.path.isdir(path) else [])
        for m in [_VDIR.match(name)]
        if m
    ]
    version = max(existing, default=0) + 1
    df.write.mode("error").parquet(_vdir(path, version))
    tmp = os.path.join(path, f"{_PTR}.tmp")
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, os.path.join(path, _PTR))  # atomic publish
    return version


def read_snapshot(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read a snapshot: the published latest by default, or any
    still-retained historical version."""
    if version is None:
        version = latest_version(path)
        if version is None:
            raise FileNotFoundError(f"no published snapshot under {path}")
    vdir = _vdir(path, version)
    if not os.path.exists(os.path.join(vdir, "_SUCCESS")):
        raise FileNotFoundError(
            f"snapshot v={version} is not published (or was expired) under {path}"
        )
    return spark.read.parquet(vdir)


def expire_snapshots(path: str, keep_last: int = 2) -> list[int]:
    """Delete all but the newest ``keep_last`` published versions (the
    pointer target is always kept). Returns the expired versions."""
    import shutil

    versions = snapshot_versions(path)
    latest = latest_version(path)
    keep = set(versions[-keep_last:]) | ({latest} if latest is not None else set())
    expired = [v for v in versions if v not in keep]
    for v in expired:
        shutil.rmtree(_vdir(path, v), ignore_errors=True)
    return expired
