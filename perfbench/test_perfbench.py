"""The benchmark's own tests, at tiny sizes and without Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
from collections import Counter
from datetime import datetime, timezone

import pytest

from perfbench import stats, tables
from perfbench.packets import CORRUPT_LINE, MIX, PacketGenerator


def _lake_rows(lines: list[str]) -> Counter:
    """Independent count of what the dedup topology must write."""
    seen: set[tuple[int, int]] = set()
    out: Counter = Counter()
    for line in lines:
        try:
            pkt = json.loads(line)
        except json.JSONDecodeError:
            continue  # corrupt lines are dropped before the processor
        key = (pkt["from"], pkt["id"])
        if key in seen:
            continue
        seen.add(key)
        if pkt["type"] == "telemetry":
            out["battery_data" if "battery_level" in pkt["payload"] else "airwise_data"] += 1
        elif pkt["type"] == "text":
            out["airwise_datav1"] += 1
        elif pkt["type"] not in ("nodeinfo",):
            out["quarantine"] += 1
    return out


def test_generator_is_deterministic_per_seed():
    a, b, c = PacketGenerator(7), PacketGenerator(7), PacketGenerator(8)
    assert a.lines(300) == b.lines(300)
    assert a.expected == b.expected
    assert PacketGenerator(7).lines(300) != c.lines(300)


def test_generator_counts_match_its_lines():
    gen = PacketGenerator(3)
    lines = gen.lines(100) + gen.lines(450)  # counts carry across files
    assert gen.expected == _lake_rows(lines)
    assert sum(gen.classes.values()) == len(lines)


def test_generator_keeps_the_route_mix_per_block():
    gen = PacketGenerator(11)
    gen.lines(1000)
    want = {name: 10 * share for name, share in MIX}
    # only the first duplicate slot can turn into an env packet
    assert abs(gen.classes["env"] - want["env"]) <= 1
    assert abs(gen.classes["dupe"] - want["dupe"]) <= 1
    for name in ("battery", "text", "nodeinfo", "unknown", "corrupt"):
        assert gen.classes[name] == want[name]


def test_generator_stays_inside_the_dedup_watermark():
    newest = 0
    for line in PacketGenerator(5).lines(400):
        if line == CORRUPT_LINE:
            continue
        t = json.loads(line)["timestamp"]
        assert t > newest - 600  # the stream's 10-minute watermark
        newest = max(newest, t)


@pytest.mark.parametrize("n", [1, 5, 19])
def test_tail_below_twenty_samples_is_the_median(n):
    samples = list(range(n))
    assert stats.tail(samples) == (50.0, stats.summary(samples)["p50"])


@pytest.mark.parametrize("n", [20, 21, 57, 100, 1000])
def test_tail_has_ten_samples_beyond_it(n):
    samples = [float(x) for x in range(n)][::-1]  # order must not matter
    pct, value = stats.tail(samples)
    assert sum(1 for x in samples if x > value) == stats.BEYOND
    assert pct == pytest.approx(100.0 * (n - 10) / n)
    if n == 100:
        assert (pct, value) == (90.0, 89.0)


def test_tail_rejects_no_samples():
    with pytest.raises(ValueError):
        stats.tail([])


def test_lake_check_fails_on_a_planted_wrong_count():
    from perfbench.ingest import lake_problems

    gen = PacketGenerator(1)
    gen.lines(500)
    got = dict(gen.expected, rollup_cnt=gen.expected["airwise_data"])
    assert lake_problems(got, gen.expected) == []
    planted = dict(got, battery_data=got["battery_data"] + 1)
    assert lake_problems(planted, gen.expected) == [
        f"battery_data: {planted['battery_data']} rows, "
        f"expected {gen.expected['battery_data']}"
    ]
    assert lake_problems(dict(got, rollup_cnt=got["rollup_cnt"] - 1), gen.expected)


def test_tables_are_deterministic_per_seed():
    a, b = tables.generate(4, 0.001), tables.generate(4, 0.001)
    assert all(a[t].equals(b[t]) for t in tables.TABLES)
    assert not a["lineitem"].equals(tables.generate(5, 0.001)["lineitem"])
    assert a["events"].num_rows > 0 and a["lineitem"].num_rows == 6000


def _trigger(start_s: float, busy_ms: int, rows: int) -> dict:
    stamp = datetime.fromtimestamp(start_s, timezone.utc)
    return {
        "timestamp": stamp.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z",
        "durationMs": {"triggerExecution": busy_ms},
        "numInputRows": rows,
    }


def test_backlog_counts_files_that_landed_during_another_trigger():
    from perfbench.ingest import backlogged

    t = 1_760_000_000.0
    # file 0 lands while idle; file 1 lands during the no-data trigger
    # after batch 0, and file 2 during its own trigger's listing
    progress = [
        _trigger(t, 2000, 100), _trigger(t + 2.0, 1000, 0),
        _trigger(t + 3.5, 2000, 100), _trigger(t + 10.0, 2000, 100),
    ]
    batches = [p for p in progress if p["numInputRows"]]
    times = [(t - 0.1, t - 0.05), (t + 2.5, t + 2.5), (t + 10.0, t + 10.01)]
    assert backlogged(times, batches, progress) == 1


def test_process_tree_cpu_counts_reaped_children():
    import subprocess
    import sys

    spin = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"
    before = stats.process_tree_cpu_s()
    subprocess.run([sys.executable, "-c", spin], check=True)
    assert stats.process_tree_cpu_s() - before >= 0.4
