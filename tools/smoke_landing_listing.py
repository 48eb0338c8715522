"""Measure the landing-dir per-trigger listing cost with and without
landing-file retirement (r9 verdict #6 — prove the O(all-files-ever-
landed) rationale for ``clean_source`` with numbers, not prose).

Protocol: land N tiny files, stream them with a NO-OP batch processor
(isolates source-side work — offset resolution/listing — from the fact
pipeline) at ``per_trigger`` files per micro-batch, and record every
trigger's ``stream.latest_offset_ms`` from its ``trace.BatchTrace``
record (the slice that contains the directory listing). The trace
keeps every trigger (r10 ADVICE: Spark's ring of the last 100
truncated phase 1). With retirement ON ('delete'), the landing dir
shrinks as batches commit, so late triggers list a near-empty dir;
with retirement OFF the dir stays at N files forever and every trigger
re-lists all of it — the cost a months-old production deployment pays
on EVERY trigger.

    python tools/smoke_landing_listing.py [n_files] [per_trigger]

Prints one JSON line: first-5/last-5 trigger mean latestOffset ms per
mode, plus the landing-dir size left behind. Results go in README's
scale-evidence table.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from meshtastic_airsensor_database_spark.session import get_spark
from meshtastic_airsensor_database_spark.streaming.ingest import (
    IngestPaths,
    run_ingest_stream,
)
from meshtastic_airsensor_database_spark.trace import BatchTrace

PACKET = (
    '{"from": 3127201152, "id": %d, "type": "telemetry", '
    '"timestamp": %d, "payload": {"temperature": 21.5, '
    '"relative_humidity": 48.2, "barometric_pressure": 1009.4, '
    '"gas_resistance": 120.3, "iaq": 55}}'
)


def _land(landing: str, n_files: int) -> None:
    os.makedirs(landing, exist_ok=True)
    for i in range(n_files):
        path = os.path.join(landing, f"f{i:06d}.jsonl")
        tmp = path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(PACKET % (10_000 + i, 1_760_748_340 + i) + "\n")
        os.rename(tmp, path)


TAIL_FILES = 40


def _data_batches(records: list[dict]) -> list[int]:
    """latestOffset ms of the DATA-CARRYING triggers only — idle
    triggers have no addBatch slice (numInputRows reads 0 under a
    no-op foreachBatch, so addBatch presence is the discriminator).
    Phase boundaries and the tail slice must use THIS filter on both
    sides (r10 ADVICE: mixing an unfiltered trigger count with a
    filtered list shifted the slice whenever an idle trigger fired in
    phase 1, leaking backlog samples into the tail mean)."""
    return [
        r["stream.latest_offset_ms"]
        for r in records
        if r["stream.add_batch_ms"] is not None
    ]


def run_case(spark, base: str, n_files: int, per_trigger: int,
             retire: bool) -> dict:
    """Two phases, the second is the measurement. Phase 1 drains an
    ``n_files`` backlog (months of deployment history, compressed).
    Phase 2 is the steady state that history leaves behind: a trickle
    of TAIL_FILES new files at ONE file per trigger — each trigger
    must re-list the landing dir to find it, so its
    ``stream.latest_offset_ms`` is dominated by how many ALREADY
    PROCESSED files still sit there: all ``n_files`` with retirement
    off, ~none with it on."""
    tag = "retire_on" if retire else "retire_off"
    landing = os.path.join(base, f"landing_{tag}")
    out = os.path.join(base, f"out_{tag}")
    _land(landing, n_files)
    paths = IngestPaths(landing_dir=landing, out_dir=out)
    with BatchTrace(spark) as trace:
        t0 = time.time()
        q = run_ingest_stream(
            spark, paths,
            max_files_per_trigger=per_trigger,
            clean_source="delete" if retire else None,
            batch_processor=lambda df, eid: None,
        )
        try:
            q.processAllAvailable()  # phase 1: drain the backlog
            # the cleaner retires phase-1 files asynchronously
            time.sleep(3.0)
            # SAME addBatch filter as the final slice (r10 ADVICE)
            phase1_batches = len(_data_batches(trace.records(q)))
            for i in range(TAIL_FILES):  # phase 2: trickle, ONE file/trigger
                tmp = os.path.join(landing, f"tail{i:03d}.jsonl.tmp")
                dst = os.path.join(landing, f"tail{i:03d}.jsonl")
                with open(tmp, "w", encoding="utf-8") as fh:
                    fh.write(PACKET % (90_000 + i, 1_760_800_000 + i) + "\n")
                os.rename(tmp, dst)
                q.processAllAvailable()
            wall = time.time() - t0
            listing = _data_batches(trace.records(q))
        finally:
            q.stop()
    assert len(listing) >= phase1_batches + TAIL_FILES, (
        "listener missed progress events",
        len(listing), phase1_batches, TAIL_FILES,
    )
    tail = listing[phase1_batches:]
    left = sum(1 for n in os.listdir(landing) if n.endswith(".jsonl"))
    mean = lambda xs: round(sum(xs) / max(len(xs), 1), 1)  # noqa: E731
    return {
        "mode": tag,
        "n_triggers": len(listing),
        "backlog_listing_ms": mean(listing[:phase1_batches]),
        "tail_triggers": len(tail),
        "tail_listing_ms": mean(tail),
        "landing_files_left": left,
        "wall_sec": round(wall, 1),
    }


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 5000
    per_trigger = int(sys.argv[2]) if len(sys.argv) > 2 else 250
    spark = get_spark("smoke_landing_listing")
    base = tempfile.mkdtemp(prefix="landing_smoke_")
    try:
        results = [
            run_case(spark, base, n_files, per_trigger, retire=False),
            run_case(spark, base, n_files, per_trigger, retire=True),
        ]
    finally:
        shutil.rmtree(base, ignore_errors=True)
    print(json.dumps({
        "metric": "landing_listing_smoke",
        "n_files": n_files,
        "per_trigger": per_trigger,
        "cases": results,
    }))


if __name__ == "__main__":
    main()
