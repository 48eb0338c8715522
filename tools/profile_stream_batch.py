"""Profile the streaming ingest micro-batch: where does the per-batch
wall time go? Replays bench.py's deterministic 20k-packet stream (same
24-file / 4-per-trigger layout) with ``phase_clock`` instrumentation on
(streaming/ingest.py), then prints accumulated per-phase seconds plus
the residual (trigger time not inside any phase = source discovery +
watermark dedup + parse/cache + planning).

It also prints each trigger's CPU split three ways, read from /proc:
this Python process, the JVM's own threads, and the JVM's reaped
children. The last column is the processes the JVM forks and waits
for: without Hadoop's native library, the local filesystem runs a
``chmod``/``readlink`` through ``jspawnhelper`` for every file and
directory it creates and every FileContext rename, so that column is
the fork cost, visible without strace. Live children (Python workers)
are in no column.

Usage: python tools/profile_stream_batch.py [n_packets] [state_partitions]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

from pyspark.sql.streaming import StreamingQueryListener

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import gen_packets
from meshtastic_airsensor_database_spark.session import get_spark
from meshtastic_airsensor_database_spark.sources.landing import write_packet_fixture
from meshtastic_airsensor_database_spark.streaming.ingest import (
    IngestPaths,
    idempotent_batch_processor,
    run_ingest_stream,
)


def _cpu_s(pid: int) -> tuple[float, float]:
    """(own, reaped children) CPU seconds of ``pid``: utime + stime of
    all its threads, and cutime + cstime of the children it waited for
    (proc(5) stat fields 14-17)."""
    with open(f"/proc/{pid}/stat") as fh:
        f = fh.read().rsplit(")", 1)[1].split()
    tick = os.sysconf("SC_CLK_TCK")
    return (int(f[11]) + int(f[12])) / tick, (int(f[13]) + int(f[14])) / tick


class CpuSplit(StreamingQueryListener):
    """Per-trigger CPU of this Python process, the JVM's threads
    and the JVM's reaped children, sampled at each progress event: a
    row is the CPU since the previous trigger ended (the first, since
    the listener was added)."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.rows: list[tuple] = []
        self._last = self._sample()

    def _sample(self) -> tuple[float, float, float]:
        jvm, children = _cpu_s(self.jvm_pid)
        return _cpu_s(os.getpid())[0], jvm, children

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        now = self._sample()
        p = event.progress
        self.rows.append((
            p.batchId, p.numInputRows, p.durationMs.get("triggerExecution", 0),
            *(b - a for a, b in zip(self._last, now)),
        ))
        self._last = now

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def run_once(spark, root: str, vol: int, label: str,
             state_partitions: int = 8) -> None:
    n_files, mfpt = 24, 4
    clock: dict[str, float] = {}
    # Per-batch phase snapshots: the shared clock accumulates across
    # batches, so wrap the standard processor and diff the clock around
    # each epoch — batch 1 carries the JVM JIT/codegen warm-up and must
    # not be smeared into the steady-state per-batch averages.
    per_batch: list[dict[str, float]] = []
    paths = IngestPaths(os.path.join(root, "landing"), os.path.join(root, "out"))
    inner = idempotent_batch_processor(paths, phase_clock=clock)

    def snapshotting(batch, epoch_id):
        before = dict(clock)
        t0 = time.perf_counter()
        inner(batch, epoch_id)
        snap = {
            k: round(v - before.get(k, 0.0), 3)
            for k, v in clock.items()
            if v - before.get(k, 0.0) > 0.0005
        }
        snap["<batch_total>"] = round(time.perf_counter() - t0, 3)
        per_batch.append(snap)

    lines = gen_packets(vol)
    per = (len(lines) + n_files - 1) // n_files
    base_t = time.time() - 2 * n_files
    for fi in range(n_files):
        chunk = lines[fi * per : (fi + 1) * per]
        if chunk:
            p = write_packet_fixture(paths.landing_dir, chunk, f"b{fi:03d}.jsonl")
            os.utime(p, (base_t + 2 * fi, base_t + 2 * fi))
    split = CpuSplit(spark._jvm.java.lang.ProcessHandle.current().pid())
    spark.streams.addListener(split)
    t0 = time.time()
    q = run_ingest_stream(
        spark,
        paths,
        max_files_per_trigger=mfpt,
        dedup_within_watermark=True,
        batch_processor=snapshotting,
        state_partitions=state_partitions,
    )
    q.processAllAvailable()
    wall = time.time() - t0
    # listener events are delivered asynchronously
    deadline = time.time() + 10
    while len(split.rows) < len(q.recentProgress) and time.time() < deadline:
        time.sleep(0.1)
    spark.streams.removeListener(split)
    prog = [p for p in (q.recentProgress or []) if p.get("numInputRows", 0) > 0]
    q.stop()
    trig_ms = [p["durationMs"]["triggerExecution"] for p in prog]
    phase_total = sum(clock.values())
    print(f"[{label}] packets={vol} wall={wall:.2f}s micro_batches={len(prog)}")
    print(f"trigger_ms={sorted(trig_ms)} (sum {sum(trig_ms)/1000:.2f}s)")
    for name, sec in sorted(clock.items(), key=lambda kv: -kv[1]):
        print(f"  {name:>22}: {sec:6.2f}s ({sec/len(prog):.2f}s/batch)")
    resid = sum(trig_ms) / 1000 - phase_total
    print(f"  {'<residual>':>22}: {resid:6.2f}s ({resid/len(prog):.2f}s/batch)"
          "  [source listing + watermark dedup + parse + planning]")
    # Steady state = batches 2..n (batch 1 pays JIT + codegen + first
    # cache/file-index build); the per-batch residual here also shows
    # whether the trigger overhead outside foreachBatch is flat.
    steady = per_batch[1:] or per_batch
    keys = sorted({k for b in steady for k in b})
    print("steady-state per-batch (excl. batch 1):")
    for k in keys:
        vals = [b.get(k, 0.0) for b in steady]
        print(f"  {k:>22}: mean {sum(vals)/len(vals):5.2f}s  "
              f"max {max(vals):5.2f}s")
    inside = [b["<batch_total>"] for b in per_batch]
    engine = [t / 1000 - i for t, i in zip(sorted(trig_ms), sorted(inside))]
    print(f"  trigger-minus-foreachBatch (engine overhead, sorted-matched): "
          f"{[round(e, 2) for e in engine]}")
    print("per-trigger CPU s (Python process / JVM threads / JVM reaped "
          "children = forked chmod, readlink, jspawnhelper):")
    for batch_id, rows, trig, py, jvm, children in split.rows:
        print(f"  batch {batch_id:>3} rows {rows:>6} trigger {trig:>5} ms: "
              f"{py:5.2f} / {jvm:5.2f} / {children:5.2f}")


def main() -> None:
    vol = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    sp = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    spark = get_spark("profile-stream")
    for label in ("warmup", "timed"):
        root = tempfile.mkdtemp(prefix="profile_stream_")
        try:
            run_once(spark, root, vol, label, state_partitions=sp)
        finally:
            shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
