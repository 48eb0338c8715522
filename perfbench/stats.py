"""Measurement helpers shared by the workloads."""

from __future__ import annotations

import os
import statistics
import time

BEYOND = 10  # samples a reported tail percentile must have above it
# HotSpot's JIT compiler threads, by their 15-character thread names
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
STEADY = 0.15  # warm-up ends when two successive units differ by less


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ``BEYOND`` samples above it,
    as ``(percentile, value)``, never below the median.

    With n sorted samples the order statistic at index n - 11 has ten
    samples beyond it and n - 10 samples at or below it, so it is the
    100 * (n - 10) / n percentile: p90 at n = 100, p50 at n = 20. Fewer
    than 20 samples support no percentile above the median, so the
    median is returned."""
    if not samples:
        raise ValueError("no samples")
    n = len(samples)
    if n < 2 * BEYOND:
        return 50.0, statistics.median(samples)
    return 100.0 * (n - BEYOND) / n, sorted(samples)[n - BEYOND - 1]


def summary(samples: list[float]) -> dict:
    """Median, supported tail and sample count of one timing."""
    pct, value = tail(samples)
    return {
        "n": len(samples),
        "p50": statistics.median(samples),
        "tail_pct": round(pct, 1),
        "tail": value,
    }


def mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0


def steady(times: list[float], least: int) -> bool:
    """True once at least ``least`` warm-up units ran and the last two
    took times within STEADY of each other."""
    return len(times) >= max(2, least) and (
        abs(times[-1] - times[-2]) <= STEADY * times[-2]
    )


def _stat(path: str) -> list[str]:
    """Fields of a /proc stat file after the parenthesised command name:
    state, ppid, ..., utime, stime, cutime, cstime at 11-14."""
    with open(path) as fh:
        return fh.read().rsplit(")", 1)[1].split()


def process_tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process below
    it (the JVM and the Python workers it forks, including children they
    have already reaped), less the JVM's JIT compiler threads.

    Time the hypervisor stole from the VM is not charged to processes,
    so on a shared host this moves with the work done, where wall time
    moves with the neighbours' load too. Compilation is left out because
    it is warm-up still under way when the window opens, and how much is
    left depends on how fast the host ran until then. The runner pins
    the compiler threads (-XX:-UseDynamicNumberOfCompilerThreads), so
    none exits with its time folded into the process total."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, used = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            f = _stat(f"/proc/{entry}/stat")
        except OSError:  # exited during the walk
            continue
        pid = int(entry)
        parent[pid] = int(f[1])
        used[pid] = sum(int(x) for x in f[11:15])
    tree, frontier = set(), {os.getpid()}
    while frontier:
        tree |= frontier
        frontier = {p for p, pp in parent.items() if pp in frontier} - tree
    total = sum(used.get(p, 0) for p in tree)
    for pid in tree:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            task = f"/proc/{pid}/task/{tid}"
            try:
                with open(f"{task}/comm") as fh:
                    if not fh.read().startswith(JIT_THREADS):
                        continue
                f = _stat(f"{task}/stat")
            except OSError:
                continue
            total -= int(f[11]) + int(f[12])
    return total / tick


def e2e_metrics(latencies_ms: list[float], work: float, wall_s: float,
                cpu_ms: list[float]) -> dict:
    """End-to-end figures of one window. ``cpu_ms`` is CPU time per
    operation, one entry per file or round; its median is reported."""
    s = summary(latencies_ms)
    return {
        "cpu_ms_per_op": statistics.median(cpu_ms),
        "latency_p50_ms": s["p50"],
        "latency_tail_ms": s["tail"],
        "work_per_s": work / wall_s,
        "_summary": s,
    }


# wall-clock figures: reported, and carried as per-layer metrics of the
# traced run, but not bounded, since CPU steal on a shared host moves
# them by more than any bound a check could use
WALL = ("latency_p50_ms", "latency_tail_ms", "work_per_s")


def traced_layers(plain: dict, traced: dict) -> dict:
    """The untraced half's wall-clock figures, and the tracing overhead,
    traced minus untraced, on every figure of a window."""
    out = {f"wall.{k}": plain[k] for k in WALL}
    for k in ("cpu_ms_per_op", *WALL):
        out[f"overhead.{k}"] = traced[k] - plain[k]
    return out


def retained_heap_mb(spark) -> float:
    """JVM heap still in use after full collections. Spark's cleaner
    frees shuffle and broadcast state asynchronously once their
    references are collected, so the heap is read after a few rounds."""
    jvm = spark._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    used = []
    for _ in range(3):
        jvm.System.gc()
        time.sleep(0.2)
        used.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
    return min(used)
