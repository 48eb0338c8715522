"""Seeded Meshtastic packet generator for the ingest workloads.

Route mix per 100 packets, the same as ``bench.gen_packets``: v0 env
telemetry 55, battery telemetry 15, v1 CSV text 15, nodeinfo 5, unknown
type 3 (quarantined), corrupt JSON 1 and mesh re-broadcast
duplicates 6. The seed picks the node ids, the values, the order of the
classes inside each block of 100 and which recent packet a duplicate
repeats. Event time only moves forward, 30 s per fleet round, so no row
falls behind the ingest stream's 10-minute dedup watermark.

The generator counts what the lake must hold afterwards, so the ingest
output check needs no second engine. Those counts are for the deployed
topology, watermark dedup on: its envelope parse drops corrupt lines
before they reach the batch processor, so only unknown-type packets are
quarantined (without dedup, corrupt lines are quarantined too).
"""

from __future__ import annotations

import json
import random
from collections import Counter

MIX = (
    ("env", 55),
    ("battery", 15),
    ("text", 15),
    ("nodeinfo", 5),
    ("unknown", 3),
    ("corrupt", 1),
    ("dupe", 6),
)
FLEET = 8
START_TS = 1760748000  # event time of the first fleet round
CORRUPT_LINE = '{"from": 123, "type": "telemetry", '
# lake table each class lands in; nodeinfo only updates the node
# dimension and corrupt lines are dropped (see above)
TABLE_OF = {
    "env": "airwise_data",
    "battery": "battery_data",
    "text": "airwise_datav1",
    "unknown": "quarantine",
}


class PacketGenerator:
    """Successive landing files of one seeded packet stream.

    ``expected`` counts, per lake table, the rows every line produced
    so far must leave after dedup; ``classes`` counts the lines drawn
    per class, duplicates included."""

    def __init__(self, seed: int):
        self._rng = random.Random(seed)
        self._nodes = [
            self._rng.randrange(1 << 31, 1 << 32) for _ in range(FLEET)
        ]
        self._n = 0  # packets with an id minted so far
        self._slots: list[str] = []
        self._recent: list[str] = []
        self.expected: Counter = Counter()
        self.classes: Counter = Counter()

    def _next_class(self) -> str:
        if not self._slots:
            block = [name for name, share in MIX for _ in range(share)]
            self._rng.shuffle(block)
            self._slots = block
        return self._slots.pop()

    def _packet(self, cls: str) -> dict:
        rng, i = self._rng, self._n
        self._n += 1
        frm = self._nodes[i % FLEET]
        pkt = {
            "channel": 0,
            "from": frm,
            "sender": f"!{frm:08x}",
            "to": 4294967295,
            "id": 10_000 + i,
            "timestamp": START_TS + (i // FLEET) * 30,
        }
        if cls == "env":
            pkt["type"] = "telemetry"
            pkt["payload"] = {
                "temperature": round(rng.uniform(-5.0, 40.0), 1),
                "relative_humidity": round(rng.uniform(10.0, 95.0), 1),
                "barometric_pressure": round(rng.uniform(980.0, 1040.0), 1),
                "gas_resistance": round(rng.uniform(50.0, 400.0), 1),
                "iaq": rng.randrange(0, 300),
            }
        elif cls == "battery":
            pkt["type"] = "telemetry"
            pkt["payload"] = {
                "battery_level": float(rng.randrange(0, 101)),
                "voltage": round(rng.uniform(3.2, 4.2), 2),
                "uptime_seconds": rng.randrange(0, 10**7),
            }
        elif cls == "text":
            vals = [rng.uniform(0.0, 1000.0) for _ in range(9)]
            pkt["type"] = "text"
            pkt["payload"] = {"text": ",".join(f"{v:.1f}" for v in vals) + "\n"}
        elif cls == "nodeinfo":
            k = i % FLEET
            pkt["type"] = "nodeinfo"
            pkt["payload"] = {
                "id": pkt["sender"],
                "longname": f"Node{k}-{rng.randrange(1000)}",
                "shortname": f"N{k}",
            }
        else:  # unknown packet type -> quarantine
            pkt["type"] = "position"
            pkt["payload"] = {}
        return pkt

    def next_line(self) -> str:
        cls = self._next_class()
        if cls == "dupe" and not self._recent:
            cls = "env"  # nothing to repeat yet
        self.classes[cls] += 1
        if cls == "dupe":
            # a re-broadcast repeats a recent parseable line verbatim:
            # same [from, id] key, so dedup must drop it
            return self._rng.choice(self._recent)
        if cls == "corrupt":
            return CORRUPT_LINE
        line = json.dumps(self._packet(cls))
        self._recent = (self._recent + [line])[-FLEET:]
        if cls in TABLE_OF:
            self.expected[TABLE_OF[cls]] += 1
        return line

    def lines(self, n: int) -> list[str]:
        return [self.next_line() for _ in range(n)]
