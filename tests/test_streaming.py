"""M3/M4 streaming tests (SURVEY.md §5.2 #3, #4, #6).

- golden end-to-end packet replay through the foreachBatch multiplexer
  (file-source micro-batches + processAllAvailable);
- exactly-one-alert-per-outage state machine (pure-function unit tests
  of heartbeat_transition — the node_alerts_sent contract,
  AIRWISEv0.py:85-96);
- session-window outage episodes;
- landing-writer file rolling for the MQTT bridge.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from meshtastic_airsensor_database_spark.sources.landing import (
    packet_batch_source,
    write_packet_fixture,
)
from meshtastic_airsensor_database_spark.sources.mqtt_bridge import LandingWriter
from meshtastic_airsensor_database_spark.streaming.ingest import (
    IngestPaths,
    process_packet_batch,
    run_ingest_stream,
)
from meshtastic_airsensor_database_spark.streaming.monitor import (
    heartbeat_transition,
    offline_message,
    outage_episodes,
    rearm_delay_after_timeout,
)

from .fixtures import ALL_GOOD, MALFORMED_JSON, NODEINFO_PACKET, as_json_lines


def test_process_packet_batch_routes_all_tables(spark, tmp_path):
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    write_packet_fixture(landing, as_json_lines(), "batch-0.jsonl")
    paths = IngestPaths(landing_dir=landing, out_dir=out)

    counts = process_packet_batch(packet_batch_source(spark, landing), paths)

    assert counts["airwise_data"] == 1
    assert counts["battery_data"] == 1
    assert counts["airwise_datav1"] == 1
    assert counts["nodeinfo"] == 1

    env = spark.read.parquet(paths.table("airwise_data"))
    row = env.collect()[0]
    # enriched from the seeded dimension (AIRWISEv0.py:41-49)
    assert row["longname"] == "Farm1"
    assert row["temperature"] == pytest.approx(21.5)
    assert row["event_date"] is not None

    v1 = spark.read.parquet(paths.table("airwise_datav1")).collect()[0]
    assert v1["pm2_5"] == pytest.approx(2.5)
    assert v1["current_mA"] == pytest.approx(120.5)


def test_process_packet_batch_dedups_packet_id(spark, tmp_path):
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    dup = [json.dumps(ALL_GOOD[0])] * 3  # mesh re-broadcast: same packet id
    write_packet_fixture(landing, dup, "batch-0.jsonl")
    paths = IngestPaths(landing_dir=landing, out_dir=out)

    counts = process_packet_batch(packet_batch_source(spark, landing), paths)
    assert counts["airwise_data"] == 1


def test_dedup_key_is_composite_from_and_id(spark, tmp_path):
    """Meshtastic packet ids are per-sender: two nodes can emit the same
    id and BOTH packets must survive dedup (only true re-broadcasts —
    same sender AND same id — collapse)."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    a = dict(ALL_GOOD[0])
    b = dict(ALL_GOOD[0], **{"from": a["from"] + 1})  # same id, other sender
    write_packet_fixture(
        landing,
        [json.dumps(a), json.dumps(b), json.dumps(a)],  # a re-broadcast once
        "batch-0.jsonl",
    )
    paths = IngestPaths(landing_dir=landing, out_dir=out)

    counts = process_packet_batch(packet_batch_source(spark, landing), paths)
    assert counts["airwise_data"] == 2


def test_golden_replay_queries_semantics(spark):
    """The committed golden fixture, replayed through the real batch
    core, shows the load-bearing semantics in driver-visible queries:
    same-batch rename enrichment (latest nodeinfo wins), null
    enrichment for unknown nodes, and composite-key dedup survival."""
    from meshtastic_airsensor_database_spark.plans.streamq import (
        replay_env_enriched,
        replay_route_counts,
    )

    env = replay_env_enriched(spark, "unused").collect()
    by_node = {}
    for r in env:
        by_node.setdefault(r.node, []).append(r)
    # latest-wins rename applied before fact enrichment (batch ordering)
    assert {r.longname for r in by_node[1129728980]} == {"Farm6-B"}
    # nodeinfo-introduced node enriched; unknown node stays null
    assert {r.longname for r in by_node[77777]} == {"Roamer"}
    assert {r.longname for r in by_node[99999]} == {None}
    # same packet id from two senders: both rows kept; re-broadcast deduped
    assert len(by_node[3127201152]) == 2  # ids 2001 + 2002, dupe dropped
    assert len(by_node[2102560288]) == 2  # ids 2001 + 2016

    counts = {r.fact_table: (r.n_rows, r.n_nodes)
              for r in replay_route_counts(spark, "unused").collect()}
    assert counts == {
        "airwise_data": (8, 6),
        "battery_data": (3, 3),
        "airwise_datav1": (3, 3),
    }


def test_nodeinfo_upserts_dimension_for_same_batch_facts(spark, tmp_path):
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    renamed = dict(NODEINFO_PACKET)
    renamed["payload"] = dict(renamed["payload"], longname="Farm6-renamed")
    env_from_6 = dict(ALL_GOOD[0], **{"from": renamed["from"], "id": 9001})
    write_packet_fixture(
        landing, [json.dumps(renamed), json.dumps(env_from_6)], "batch-0.jsonl"
    )
    paths = IngestPaths(landing_dir=landing, out_dir=out)

    process_packet_batch(packet_batch_source(spark, landing), paths)

    env = spark.read.parquet(paths.table("airwise_data")).collect()[0]
    assert env["longname"] == "Farm6-renamed"  # dim upsert visible to same batch
    dim = {r["node"]: r["longname"] for r in spark.read.parquet(paths.table("node_dim")).collect()}
    assert dim[renamed["from"]] == "Farm6-renamed"
    assert len(dim) == 6  # other seed rows kept


def test_streaming_ingest_end_to_end(spark, tmp_path):
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    write_packet_fixture(landing, as_json_lines(), "batch-0.jsonl")
    paths = IngestPaths(landing_dir=landing, out_dir=out)

    query = run_ingest_stream(spark, paths)
    try:
        query.processAllAvailable()
        # second micro-batch: new file appears in the landing dir
        write_packet_fixture(
            landing, [json.dumps(dict(ALL_GOOD[0], id=2001, timestamp=1760748940))], "batch-1.jsonl"
        )
        query.processAllAvailable()
    finally:
        query.stop()

    env = spark.read.parquet(paths.table("airwise_data"))
    assert env.count() == 2  # one from each micro-batch
    assert spark.read.parquet(paths.table("battery_data")).count() == 1


# ---------------------------------------------------------------------------
# M4: the exactly-one-alert-per-outage contract (AIRWISEv0.py:85-96)
# ---------------------------------------------------------------------------

THRESHOLD_S = 100 * 60.0


def test_offline_alert_fires_once_per_outage():
    # heartbeat at t=0
    state, events = heartbeat_transition(None, 0.0, "Farm1", 0.0, THRESHOLD_S, False)
    assert events == []
    # timeout fires past the threshold -> exactly one OFFLINE
    state, events = heartbeat_transition(state, None, None, THRESHOLD_S + 1, THRESHOLD_S, True)
    assert [e for e, _ in events] == ["OFFLINE"]
    assert state[1] is True  # alert_sent flag set (AIRWISEv0.py:91)
    # a second timeout scan while still silent -> NO second alert
    state, events = heartbeat_transition(state, None, None, 2 * THRESHOLD_S, THRESHOLD_S, True)
    assert events == []


def test_online_transition_resets_and_rearms():
    state = (0.0, True, "Farm1")  # offline, alert already sent
    state, events = heartbeat_transition(state, 9000.0, "Farm1", 9000.0, THRESHOLD_S, False)
    assert [e for e, _ in events] == ["ONLINE"]
    assert state == (9000.0, False, "Farm1")  # flag reset (AIRWISEv0.py:259-262)
    # next outage alerts again (re-armed)
    state, events = heartbeat_transition(
        state, None, None, 9000.0 + THRESHOLD_S + 1, THRESHOLD_S, True
    )
    assert [e for e, _ in events] == ["OFFLINE"]


def test_timeout_before_threshold_does_not_alert():
    # timeout delivered early (e.g. right after restart): gap check guards
    state = (0.0, False, "Farm1")
    state, events = heartbeat_transition(state, None, None, 60.0, THRESHOLD_S, True)
    assert events == []
    assert state[1] is False


def test_declined_timeout_rearms_for_remaining_time():
    """A fired timer whose threshold check declines (clock skew: node's
    last_seen ahead of the processing clock) must re-arm or the OFFLINE
    alert is lost forever (ADVICE r1)."""
    state = (5000.0, False, "Farm1")  # last_seen "in the future" vs now=60
    state, events = heartbeat_transition(state, None, None, 60.0, THRESHOLD_S, True)
    assert events == []
    delay = rearm_delay_after_timeout(state, events, 60.0, THRESHOLD_S)
    assert delay == pytest.approx(THRESHOLD_S - (60.0 - 5000.0))
    # after the alert actually fires, no re-arm (heartbeat re-arms instead)
    state, events = heartbeat_transition(
        state, None, None, 5000.0 + THRESHOLD_S + 1, THRESHOLD_S, True
    )
    assert [e for e, _ in events] == ["OFFLINE"]
    assert rearm_delay_after_timeout(state, events, 5000.0 + THRESHOLD_S + 1, THRESHOLD_S) is None
    # silent scan on an already-alerted key: nothing to schedule
    state2, events2 = heartbeat_transition(
        state, None, None, 5000.0 + 2 * THRESHOLD_S, THRESHOLD_S, True
    )
    assert rearm_delay_after_timeout(state2, events2, 5000.0 + 2 * THRESHOLD_S, THRESHOLD_S) is None
    # fresh key with no last_seen: nothing to check against
    assert rearm_delay_after_timeout((None, False, None), [], 0.0, THRESHOLD_S) is None
    # overdue-but-declined edge: floor at 1s, never zero or negative
    assert rearm_delay_after_timeout((0.0, False, "n"), [], THRESHOLD_S + 50, THRESHOLD_S) == 1.0


def test_heartbeat_never_regresses_last_seen():
    state = (100.0, False, "Farm1")
    state, _ = heartbeat_transition(state, 50.0, None, 200.0, THRESHOLD_S, False)
    assert state[0] == 100.0  # out-of-order heartbeat keeps max


def test_offline_message_format():
    msg = offline_message("Farm1", 3127201152, 100)
    assert msg == (
        "Node OFFLINE: Farm1 (**ID: 3127201152**) - "
        "No message received for over 100 minutes"
    )


def test_outage_episodes_session_windows(spark):
    import datetime as dt

    base = dt.datetime(2025, 1, 1, 0, 0, 0)
    rows = [
        # node 1: two readings 10 min apart, then a 200-min gap, then one more
        (1, base),
        (1, base + dt.timedelta(minutes=10)),
        (1, base + dt.timedelta(minutes=210)),
        # node 2: continuous
        (2, base),
        (2, base + dt.timedelta(minutes=50)),
    ]
    facts = spark.createDataFrame(rows, "node long, event_ts timestamp")
    eps = outage_episodes(facts, gap_minutes=100).orderBy("node", "episode_start").collect()
    assert [(e["node"], e["n_readings"]) for e in eps] == [(1, 2), (1, 1), (2, 2)]


def test_landing_writer_rolls_files(tmp_path):
    w = LandingWriter(str(tmp_path), flush_every=2, flush_seconds=1e9)
    assert w.add("a", now=0.0) is None
    path = w.add("b", now=0.0)
    assert path is not None and path.endswith("packets-0000000000.jsonl")
    assert w.add("c", now=0.0) is None
    assert w.flush().endswith("packets-0000000001.jsonl")
    files = sorted(p.name for p in tmp_path.iterdir())
    assert files == ["packets-0000000000.jsonl", "packets-0000000001.jsonl"]
    assert (tmp_path / "packets-0000000000.jsonl").read_text() == "a\nb\n"


def test_offline_monitor_stream_end_to_end(spark, tmp_path):
    """Drive the applyInPandasWithState operator through a real streaming
    query: heartbeat -> silence (timeout -> OFFLINE) -> heartbeat (ONLINE).

    Threshold shrunk to ~0.1 s so the processing-time timeout fires within
    the test; fixture event timestamps are far in the past so the gap
    check is always satisfied once the timeout triggers.
    """
    import json
    import time

    from meshtastic_airsensor_database_spark.operators.parse import (
        extract_nodeinfo,
        json_envelope_parse,
    )
    from meshtastic_airsensor_database_spark.sources.landing import packet_stream_source
    from meshtastic_airsensor_database_spark.streaming.monitor import offline_monitor_stream

    landing = str(tmp_path / "hb_landing")

    def nodeinfo(node, ts, name):
        return json.dumps(
            {
                "from": node,
                "id": ts,
                "type": "nodeinfo",
                "timestamp": ts,
                "payload": {"id": f"!{node:x}", "longname": name},
            }
        )

    write_packet_fixture(landing, [nodeinfo(1, 1000, "Farm1")], "b0.jsonl")

    raw = packet_stream_source(spark, landing)
    heartbeats = extract_nodeinfo(json_envelope_parse(raw)).select(
        "node", "longname", F.col("updated_ts").alias("ts")
    )
    events = offline_monitor_stream(heartbeats, threshold_minutes=0.1 / 60)

    query = (
        events.writeStream.format("memory")
        .queryName("monitor_events")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "hb_ckpt"))
        .start()
    )

    def wait_for(event, node, deadline_s=60.0):
        # processAllAvailable() can block while processing-time timers keep
        # the trigger busy, so poll the memory sink instead.
        end = time.time() + deadline_s
        while time.time() < end:
            got = {
                (r["node"], r["event"])
                for r in spark.sql("SELECT node, event FROM monitor_events").collect()
            }
            if (node, event) in got:
                return
            assert query.exception() is None, query.exception()
            time.sleep(0.2)
        raise AssertionError(f"timed out waiting for ({node}, {event})")

    try:
        # batch 1 arms node 1's timer; ~0.1 s later the timeout fires OFFLINE
        wait_for("OFFLINE", 1)
        write_packet_fixture(landing, [nodeinfo(1, 3000, "Farm1")], "b1.jsonl")
        wait_for("ONLINE", 1)  # heartbeat resumes -> ONLINE transition
    finally:
        query.stop()


def test_streaming_windowed_agg_with_watermark(spark, tmp_path):
    """SURVEY §2.9 windowed_ingest + late_data_handling: event-time
    tumbling windows over the packet stream with a watermark. A record
    later than the watermark bound is DROPPED from its (closed) window;
    an in-bound late record still lands in its window."""
    import json

    from meshtastic_airsensor_database_spark.operators.parse import (
        extract_v0_env_facts,
        json_envelope_parse,
    )
    from meshtastic_airsensor_database_spark.sources.landing import packet_stream_source

    landing = str(tmp_path / "wm_landing")

    def env(node, ts, temp):
        return json.dumps(
            {
                "from": node, "id": ts, "type": "telemetry", "timestamp": ts,
                "payload": {"temperature": temp, "relative_humidity": 40.0,
                            "barometric_pressure": 1000.0, "gas_resistance": 1.0,
                            "iaq": 10},
            }
        )

    base = 1_700_000_000 - (1_700_000_000 % 600)  # align to a 10-min boundary
    # batch 0: two readings in window W0 [base, base+600), one in W1 —
    # advances the watermark to (base+1200) - 10 min = base+600
    write_packet_fixture(
        landing,
        [env(1, base + 10, 20.0), env(1, base + 20, 30.0), env(1, base + 1200, 50.0)],
        "b0.jsonl",
    )

    raw = packet_stream_source(spark, landing)
    facts = extract_v0_env_facts(json_envelope_parse(raw))
    agg = (
        facts.withWatermark("event_ts", "10 minutes")
        .groupBy(F.window("event_ts", "10 minutes").alias("w"), "node")
        .agg(F.avg("temperature").alias("avg_temp"), F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"), "node", "avg_temp", "n")
    )
    query = (
        agg.writeStream.format("memory")
        .queryName("wm_agg")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "wm_ckpt"))
        .start()
    )
    try:
        query.processAllAvailable()
        # batch 1: one record inside W0, which is now older than the
        # watermark (base+600) -> dropped; one current record in W2
        write_packet_fixture(
            landing, [env(1, base + 30, 999.0), env(1, base + 1900, 60.0)], "b1.jsonl"
        )
        query.processAllAvailable()
        # batch 2: advance watermark far enough to close + emit all windows
        write_packet_fixture(landing, [env(1, base + 9000, 1.0)], "b2.jsonl")
        query.processAllAvailable()

        rows = {
            int(r["w_start"].timestamp()): (r["avg_temp"], r["n"])
            for r in spark.sql("SELECT * FROM wm_agg").collect()
        }
        # W0 closed with ONLY the two on-time readings (late 999.0 dropped)
        assert rows[base] == (25.0, 2)
        assert rows[base + 1200] == (50.0, 1)
        assert rows[base + 1800] == (60.0, 1)
    finally:
        query.stop()


def test_streaming_session_window_agg_with_watermark(spark, tmp_path):
    """SURVEY §2.9 windowed_ingest, SESSION variant: the same native
    F.session_window the batch query session_window_stats uses, run as
    a watermarked streaming aggregation. Two bursts separated by more
    than the gap form two sessions; a session closes (appends) only
    once the watermark passes its end, and its end is last event + gap.
    This exercises the session-specific streaming state path (session
    merge + expiry), which tumbling-window tests cannot."""
    import json

    from meshtastic_airsensor_database_spark.operators.parse import (
        extract_v0_env_facts,
        json_envelope_parse,
    )
    from meshtastic_airsensor_database_spark.sources.landing import packet_stream_source

    landing = str(tmp_path / "sw_landing")

    def env(node, ts, temp):
        return json.dumps(
            {
                "from": node, "id": ts, "type": "telemetry", "timestamp": ts,
                "payload": {"temperature": temp, "relative_humidity": 40.0,
                            "barometric_pressure": 1000.0, "gas_resistance": 1.0,
                            "iaq": 10},
            }
        )

    base = 1_700_000_000
    # burst 1: three readings 60s apart (one session, gap 300s);
    # burst 2: one reading 1000s later (new session)
    write_packet_fixture(
        landing,
        [env(1, base, 20.0), env(1, base + 60, 30.0), env(1, base + 120, 40.0),
         env(1, base + 1120, 50.0)],
        "b0.jsonl",
    )

    raw = packet_stream_source(spark, landing)
    facts = extract_v0_env_facts(json_envelope_parse(raw))
    agg = (
        facts.withWatermark("event_ts", "5 minutes")
        .groupBy(F.session_window("event_ts", "300 seconds").alias("sw"), "node")
        .agg(F.count("*").alias("n"), F.avg("temperature").alias("avg_temp"))
        .select(
            F.col("sw.start").alias("s_start"), F.col("sw.end").alias("s_end"),
            "node", "n", "avg_temp",
        )
    )
    query = (
        agg.writeStream.format("memory")
        .queryName("sw_agg")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sw_ckpt"))
        .start()
    )
    try:
        query.processAllAvailable()
        # nothing emitted yet for session 2 (not expired); session 1 may
        # emit once the watermark (base+1120-300s) passes its end
        # (base+120+300). Push the watermark far ahead to close both.
        write_packet_fixture(landing, [env(1, base + 9000, 1.0)], "b1.jsonl")
        query.processAllAvailable()
        rows = {
            int(r["s_start"].timestamp()): (
                int(r["s_end"].timestamp()), r["n"], r["avg_temp"]
            )
            for r in spark.sql("SELECT * FROM sw_agg").collect()
        }
        # session 1: events at base, +60, +120 -> end = +120 + 300
        assert rows[base] == (base + 420, 3, 30.0)
        # session 2: single event -> end = event + gap
        assert rows[base + 1120] == (base + 1420, 1, 50.0)
    finally:
        query.stop()


def test_streaming_ingest_dedups_packet_ids_within_watermark(spark, tmp_path):
    """exact_dedup on the stream (SURVEY §2.11/§2.9): the same packet id
    re-delivered in a later micro-batch (MQTT at-least-once / mesh
    re-broadcast) is dropped by dropDuplicatesWithinWatermark; a fresh
    id passes."""
    landing = str(tmp_path / "dd_landing")
    out = str(tmp_path / "dd_out")
    pkt = dict(ALL_GOOD[0], id=9001)
    write_packet_fixture(landing, [json.dumps(pkt)], "b0.jsonl")
    paths = IngestPaths(landing_dir=landing, out_dir=out)

    query = run_ingest_stream(spark, paths, dedup_within_watermark=True)
    try:
        query.processAllAvailable()
        # batch 1: exact duplicate (same id) + one genuinely new packet
        write_packet_fixture(
            landing,
            [json.dumps(pkt),
             json.dumps(dict(ALL_GOOD[0], id=9002, timestamp=pkt["timestamp"] + 60))],
            "b1.jsonl",
        )
        query.processAllAvailable()
    finally:
        query.stop()

    env = spark.read.parquet(paths.table("airwise_data"))
    assert env.count() == 2  # duplicate 9001 dropped, 9002 kept


def test_streaming_dedup_preserves_idless_rows(spark, tmp_path):
    """Rows without a packet id must NOT be collapsed by --dedup: null
    keys compare equal in dropDuplicatesWithinWatermark, so id-less
    packets bypass the dedup operator (no id claim = no dup claim)."""
    landing = str(tmp_path / "nd_landing")
    out = str(tmp_path / "nd_out")
    no_id_a = {k: v for k, v in ALL_GOOD[0].items() if k != "id"}
    no_id_b = dict(no_id_a, timestamp=no_id_a["timestamp"] + 30)
    write_packet_fixture(
        landing, [json.dumps(no_id_a), json.dumps(no_id_b)], "b0.jsonl"
    )
    paths = IngestPaths(landing_dir=landing, out_dir=out)
    query = run_ingest_stream(spark, paths, dedup_within_watermark=True)
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    assert spark.read.parquet(paths.table("airwise_data")).count() == 2


def test_streaming_dedup_covers_timestampless_id_rows(spark, tmp_path):
    """Rows that claim an id but carry NO event time bypass the
    watermark dedup operator (it keys on event time) — the batch core
    must still dedup exactly that subset even though it skips the
    redundant full in-batch shuffle when the stream deduped upstream
    (r8 input_deduped): two copies of an id'd timestampless packet
    collapse to one fact, while an id-less timestampless pair is
    preserved (no id claim = no dup claim)."""
    landing = str(tmp_path / "nt_landing")
    out = str(tmp_path / "nt_out")
    no_ts = {k: v for k, v in ALL_GOOD[0].items() if k != "timestamp"}
    no_ts_no_id = {k: v for k, v in no_ts.items() if k != "id"}
    write_packet_fixture(
        landing,
        [json.dumps(no_ts), json.dumps(no_ts),            # dup pair: -> 1
         json.dumps(no_ts_no_id), json.dumps(no_ts_no_id)],  # idless: -> 2
        "b0.jsonl",
    )
    paths = IngestPaths(landing_dir=landing, out_dir=out)
    query = run_ingest_stream(spark, paths, dedup_within_watermark=True)
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    assert spark.read.parquet(paths.table("airwise_data")).count() == 3


def test_streaming_dedup_collapses_mixed_ts_null_pair(spark, tmp_path):
    """A duplicate pair sharing [from, id] where one copy carries a
    timestamp and the other doesn't (r8 ADVICE): the timestamped copy
    flows through the watermark dedup, the ts-null copy bypasses it —
    the batch core's anti-join must still collapse the pair, and the
    TIMESTAMPED copy must be the survivor."""
    landing = str(tmp_path / "mx_landing")
    out = str(tmp_path / "mx_out")
    with_ts = dict(ALL_GOOD[0], id=9100)
    no_ts = {k: v for k, v in with_ts.items() if k != "timestamp"}
    write_packet_fixture(
        landing, [json.dumps(no_ts), json.dumps(with_ts)], "b0.jsonl"
    )
    paths = IngestPaths(landing_dir=landing, out_dir=out)
    query = run_ingest_stream(spark, paths, dedup_within_watermark=True)
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    rows = spark.read.parquet(paths.table("airwise_data")).collect()
    assert len(rows) == 1
    assert rows[0]["event_ts"] is not None  # the timestamped copy won


def test_restart_warns_when_checkpoint_ignores_state_partitions(spark, tmp_path):
    """A checkpoint pins spark.sql.shuffle.partitions at first start;
    Spark silently reuses the pinned value on restart whatever the
    session conf says. A restart requesting a DIFFERENT value must warn
    loudly naming the value that actually applies (r8 verdict #5); a
    restart with the SAME value stays silent."""
    import warnings as warnings_mod

    landing = str(tmp_path / "sp_landing")
    out = str(tmp_path / "sp_out")
    write_packet_fixture(landing, as_json_lines(), "b0.jsonl")
    paths = IngestPaths(landing_dir=landing, out_dir=out)

    q = run_ingest_stream(
        spark, paths, dedup_within_watermark=True, state_partitions=4
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # same value: no warning
    with warnings_mod.catch_warnings(record=True) as caught:
        warnings_mod.simplefilter("always")
        q2 = run_ingest_stream(
            spark, paths, dedup_within_watermark=True, state_partitions=4
        )
        q2.stop()
    assert not [w for w in caught if issubclass(w.category, RuntimeWarning)]

    # changed value: loud warning naming the pinned width
    with pytest.warns(RuntimeWarning, match=r"pins\s+spark\.sql\.shuffle\.partitions=4"):
        q3 = run_ingest_stream(
            spark, paths, dedup_within_watermark=True, state_partitions=256
        )
    try:
        # ...and the checkpoint's width is indeed what runs: the state
        # operator reports 4 shuffle partitions, not 256
        write_packet_fixture(
            landing,
            [json.dumps(dict(ALL_GOOD[0], id=9201,
                             timestamp=ALL_GOOD[0]["timestamp"] + 60))],
            "b1.jsonl",
        )
        q3.processAllAvailable()
        ops = (q3.lastProgress or {}).get("stateOperators") or []
        widths = {op.get("numShufflePartitions") for op in ops}
        assert widths <= {4, None} and widths, widths
    finally:
        q3.stop()


def test_ingest_stream_runs_no_empty_batches_but_still_evicts(spark, tmp_path):
    """The ingest query runs without no-data micro-batches: a data batch
    is not followed by an empty one that only evicts dedup state.
    Eviction moves into the next data batch, and dedup still holds. The
    first file spans 20 minutes, more than the 10-minute watermark, so
    the watermark it sets has passed the expiry of its earliest packet:
    the second data batch removes that entry, and still drops a
    re-broadcast of the file's newest packet."""
    landing = str(tmp_path / "ev_landing")
    out = str(tmp_path / "ev_out")
    t = ALL_GOOD[0]["timestamp"]

    def pkt(pid, ts):
        return json.dumps(dict(ALL_GOOD[0], id=pid, timestamp=ts))

    write_packet_fixture(landing, [pkt(9401, t), pkt(9402, t + 1200)], "b0.jsonl")
    paths = IngestPaths(landing_dir=landing, out_dir=out)
    q = run_ingest_stream(spark, paths, dedup_within_watermark=True)
    try:
        q.processAllAvailable()
        # a re-broadcast of 9402 (inside the watermark) + a fresh packet
        write_packet_fixture(
            landing, [pkt(9402, t + 1200), pkt(9403, t + 1260)], "b1.jsonl"
        )
        q.processAllAvailable()
        progress = q.recentProgress
    finally:
        q.stop()

    empty = [p["batchId"] for p in progress
             if p["numInputRows"] == 0 and "addBatch" in p["durationMs"]]
    assert not empty, f"no-data batches ran: {empty}"
    data = [p for p in progress if p["numInputRows"] > 0]
    assert [p["batchId"] for p in data] == [0, 1]
    assert data[1]["stateOperators"][0]["numRowsRemoved"] > 0
    assert spark.read.parquet(paths.table("airwise_data")).count() == 3


def _conf_snapshot(spark, keys):
    return {k: spark.conf.get(k, None) for k in keys}


_FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


@pytest.mark.parametrize(
    "caller",
    [
        # caller-set shuffle width and polling, the other two unset
        {"spark.sql.shuffle.partitions": "3",
         "spark.sql.streaming.pollingDelay": "2000",
         "spark.sql.streaming.noDataMicroBatches.enabled": None,
         "spark.sql.streaming.checkpointFileManagerClass": None},
        # the opposite
        {"spark.sql.shuffle.partitions": None,
         "spark.sql.streaming.pollingDelay": None,
         "spark.sql.streaming.noDataMicroBatches.enabled": "true",
         "spark.sql.streaming.checkpointFileManagerClass": _FILE_CONTEXT_MANAGER},
    ],
)
def test_ingest_stream_leaves_caller_confs_untouched(
    spark, tmp_path, monkeypatch, caller
):
    """The per-query confs reach start() and nothing else: afterwards the
    caller's session holds exactly what it held before, for every key
    the ingest query sets — a key the caller had set keeps its value and
    an unset key stays unset, also when start() raises."""
    from pyspark.sql.streaming import DataStreamWriter

    from meshtastic_airsensor_database_spark.streaming import ingest

    keys = [*ingest._QUERY_CONFS, "spark.sql.shuffle.partitions"]
    assert sorted(caller) == sorted(keys)
    saved = _conf_snapshot(spark, keys)
    try:
        for k, v in caller.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        before = _conf_snapshot(spark, keys)
        assert before == caller

        landing = str(tmp_path / "cf_landing")
        write_packet_fixture(landing, as_json_lines(), "b0.jsonl")
        q = run_ingest_stream(
            spark, IngestPaths(landing, str(tmp_path / "cf_out")),
            dedup_within_watermark=True,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert _conf_snapshot(spark, keys) == before

        at_start = {}

        def failing_start(self, *args, **kwargs):
            at_start.update(_conf_snapshot(spark, keys))
            raise RuntimeError("planted start failure")

        monkeypatch.setattr(DataStreamWriter, "start", failing_start)
        with pytest.raises(RuntimeError, match="planted start failure"):
            run_ingest_stream(
                spark, IngestPaths(landing, str(tmp_path / "cf_out2")),
                dedup_within_watermark=True,
            )
        assert at_start == {**ingest._QUERY_CONFS,
                            "spark.sql.shuffle.partitions": "8"}
        assert _conf_snapshot(spark, keys) == before
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.mark.parametrize(
    "checkpoint_dir, default_fs, local",
    [
        ("/data/lake/_checkpoint", "file:///", True),
        ("lake/_checkpoint", "file:///", True),
        ("file:/data/lake/_checkpoint", "file:///", True),
        ("file:///data/lake/_checkpoint", "hdfs://namenode:8020", True),
        ("hdfs://namenode:8020/lake/_checkpoint", "file:///", False),
        ("s3a://bucket/lake/_checkpoint", "file:///", False),
        # a scheme-less path lives on the default filesystem
        ("/data/lake/_checkpoint", "hdfs://namenode:8020", False),
    ],
)
def test_checkpoint_manager_follows_checkpoint_scheme(
    spark, checkpoint_dir, default_fs, local
):
    """The FileSystem-based checkpoint manager is chosen only for a
    checkpoint on the local filesystem; for a remote one the ingest
    query leaves the conf alone, so Spark's default manager applies."""
    from meshtastic_airsensor_database_spark.streaming import ingest

    hadoop_conf = spark.sparkContext._jsc.hadoopConfiguration()
    prev = hadoop_conf.get("fs.defaultFS")
    hadoop_conf.set("fs.defaultFS", default_fs)
    try:
        confs = ingest._ingest_query_confs(spark, checkpoint_dir, None)
    finally:
        hadoop_conf.set("fs.defaultFS", prev)
    want = dict(ingest._QUERY_CONFS)
    if not local:
        del want[ingest._CHECKPOINT_MANAGER]
    assert confs == want


def test_quarantine_view_is_exactly_once_under_epoch_replay(spark, tmp_path):
    """The quarantine log is documented at-least-once (a crash between
    its append and the ledger commit replays the epoch and appends the
    same rows again). quarantine_view must recover the exactly-once
    view from the (raw, epoch_tag) stamps — dropping the replayed
    delivery's copies while PRESERVING identical corrupt lines that
    legitimately appeared twice within one batch (r8 verdict #6)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from meshtastic_airsensor_database_spark.sources.landing import (
        packet_stream_source,
    )
    from meshtastic_airsensor_database_spark.streaming.ingest import (
        EpochLedger,
        quarantine_view,
    )

    landing = str(tmp_path / "qv_landing")
    out = str(tmp_path / "qv_out")
    # the corrupt line appears TWICE in the batch: two real events
    write_packet_fixture(
        landing, as_json_lines() + [MALFORMED_JSON], "b0.jsonl"
    )
    paths = IngestPaths(landing_dir=landing, out_dir=out)

    def chaotic(batch, epoch_id):
        ledger = EpochLedger(batch.sparkSession, paths.ledger_dir)
        if ledger.committed(epoch_id):
            return
        process_packet_batch(
            batch, paths, with_counts=False,
            epoch_tag=f"{ledger.run_tag()}:{epoch_id}",
        )
        raise RuntimeError("planted crash: after quarantine append, before ledger commit")

    q = (
        packet_stream_source(spark, landing)
        .writeStream.foreachBatch(chaotic)
        .option("checkpointLocation", paths.checkpoint_dir)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="planted crash"):
        q.processAllAvailable()
        q.awaitTermination()
    q.stop()

    q2 = run_ingest_stream(spark, paths)  # same checkpoint: epoch replays
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    log = spark.read.json(paths.table("quarantine"))
    # underlying audit log shows the duplicate delivery: 3 rows x 2
    # (malformed x2 + unknown-type x1, appended by both deliveries)
    assert log.count() == 6
    rows = quarantine_view(spark, paths.table("quarantine")).collect()
    assert len(rows) == 3
    # in-batch duplicate preserved; replay copies gone
    assert [r["raw"] for r in rows].count(MALFORMED_JSON) == 2


def test_quarantine_view_passes_untagged_rows_through(spark, tmp_path):
    """Ad-hoc batch callers write quarantine rows with a NULL epoch_tag
    (they never replay epochs), and two genuine ingests of the same
    corrupt line are two events — the exactly-once view must NOT
    collapse untagged rows, only tagged replay deliveries."""
    from meshtastic_airsensor_database_spark.streaming.ingest import (
        quarantine_view,
    )

    landing = str(tmp_path / "qu_landing")
    out = str(tmp_path / "qu_out")
    write_packet_fixture(landing, [MALFORMED_JSON], "b0.jsonl")
    paths = IngestPaths(landing_dir=landing, out_dir=out)
    batch = packet_batch_source(spark, landing)
    process_packet_batch(batch, paths, with_counts=False)  # no epoch_tag
    process_packet_batch(batch, paths, with_counts=False)  # genuine re-ingest

    assert spark.read.json(paths.table("quarantine")).count() == 2
    rows = quarantine_view(spark, paths.table("quarantine")).collect()
    assert len(rows) == 2  # both kept: no tag, no replay claim
    assert all(r["epoch_tag"] is None for r in rows)


def test_quarantine_view_prefers_complete_delivery_over_partial(
    spark, tmp_path
):
    """r9 ADVICE: with a per-task-publishing committer
    (fileoutputcommitter v2), a crash mid-append can leave a PARTIAL
    first delivery. Keying on min(quarantined_at) would let that
    partial prefix suppress the complete replay — the view must keep
    the delivery with the MOST rows, not the earliest one."""
    import json as _json

    from meshtastic_airsensor_database_spark.streaming.ingest import (
        quarantine_view,
    )

    qdir = tmp_path / "q_partial"
    qdir.mkdir()

    def row(raw, ts):
        return _json.dumps(
            {
                "raw": raw,
                "violations": ["bad_json"],
                "quarantined_at": ts,
                "epoch_tag": "run0:0",
            }
        )

    # partial first delivery: crash published only 1 of the 3 rows
    (qdir / "part-partial.json").write_text(
        row("X", "2026-01-01T00:00:00.000Z") + "\n"
    )
    # complete replay: the in-batch duplicate X + Y, later timestamp
    (qdir / "part-replay.json").write_text(
        "\n".join(
            [
                row("X", "2026-01-01T00:00:05.000Z"),
                row("X", "2026-01-01T00:00:05.000Z"),
                row("Y", "2026-01-01T00:00:05.000Z"),
            ]
        )
        + "\n"
    )

    rows = quarantine_view(spark, str(qdir)).collect()
    # X's group keeps the 2-row complete delivery (count beats
    # earliness); the in-batch duplicate survives; Y has one delivery
    assert len(rows) == 3
    assert [r["raw"] for r in rows].count("X") == 2
    assert all(
        r["quarantined_at"].second == 5 for r in rows if r["raw"] == "X"
    )


def test_quarantine_view_keeps_earliest_among_equal_deliveries(
    spark, tmp_path
):
    """Tie-break contract: equally-sized deliveries carry identical
    content, and the view deterministically keeps the EARLIEST one
    (the pre-r10 'first delivery' semantics, now only on ties)."""
    import json as _json

    from meshtastic_airsensor_database_spark.streaming.ingest import (
        quarantine_view,
    )

    qdir = tmp_path / "q_tie"
    qdir.mkdir()
    for name, ts in (
        ("part-a.json", "2026-01-01T00:00:00.000Z"),
        ("part-b.json", "2026-01-01T00:00:09.000Z"),
    ):
        (qdir / name).write_text(
            _json.dumps(
                {
                    "raw": "Z",
                    "violations": ["bad_json"],
                    "quarantined_at": ts,
                    "epoch_tag": "run0:1",
                }
            )
            + "\n"
        )
    rows = quarantine_view(spark, str(qdir)).collect()
    assert len(rows) == 1
    assert rows[0]["quarantined_at"].second == 0


def test_epoch_ledger_makes_replay_a_noop(spark, tmp_path):
    """Re-delivering the same epoch (post-crash foreachBatch replay)
    must not append the facts twice (SURVEY §7.2 hard part (c))."""
    from meshtastic_airsensor_database_spark.streaming.ingest import (
        idempotent_batch_processor,
    )

    landing = str(tmp_path / "el_landing")
    out = str(tmp_path / "el_out")
    write_packet_fixture(landing, as_json_lines(), "b0.jsonl")
    paths = IngestPaths(landing_dir=landing, out_dir=out)
    batch = packet_batch_source(spark, landing)

    on_batch = idempotent_batch_processor(paths)
    on_batch(batch, 0)
    on_batch(batch, 0)  # replay of the same epoch -> skipped
    assert spark.read.parquet(paths.table("airwise_data")).count() == 1
    on_batch(batch, 1)  # a NEW epoch appends again
    assert spark.read.parquet(paths.table("airwise_data")).count() == 2


def test_ingest_restart_resumes_from_checkpoint(spark, tmp_path):
    """Stop + restart with the same checkpoint: already-consumed landing
    files are not reprocessed; only new files land as facts."""
    landing = str(tmp_path / "rs_landing")
    out = str(tmp_path / "rs_out")
    write_packet_fixture(landing, as_json_lines(), "b0.jsonl")
    paths = IngestPaths(landing_dir=landing, out_dir=out)

    q1 = run_ingest_stream(spark, paths)
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    assert spark.read.parquet(paths.table("airwise_data")).count() == 1

    write_packet_fixture(
        landing, [json.dumps(dict(ALL_GOOD[0], id=7777, timestamp=1760748999))], "b1.jsonl"
    )
    q2 = run_ingest_stream(spark, paths)  # same checkpoint dir
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    env = spark.read.parquet(paths.table("airwise_data"))
    assert env.count() == 2  # b0 not replayed, b1 ingested


def test_epoch_ledger_reset_with_checkpoint_and_pruning(spark, tmp_path):
    """Ledger lives inside the checkpoint dir: a checkpoint reset (batch
    ids restart at 0) must also reset the ledger; commit() keeps the
    marker directory O(1)."""
    import os
    import shutil

    from meshtastic_airsensor_database_spark.streaming.ingest import (
        EpochLedger,
        idempotent_batch_processor,
    )

    landing = str(tmp_path / "cr_landing")
    out = str(tmp_path / "cr_out")
    write_packet_fixture(landing, [json.dumps(ALL_GOOD[0])], "b0.jsonl")
    paths = IngestPaths(landing_dir=landing, out_dir=out)
    batch = packet_batch_source(spark, landing)

    on_batch = idempotent_batch_processor(paths)
    for epoch in range(4):
        on_batch(batch, epoch)
    assert spark.read.parquet(paths.table("airwise_data")).count() == 4
    # pruning: only the latest two markers survive
    markers = [n for n in os.listdir(paths.ledger_dir) if n.startswith("epoch-")]
    assert sorted(markers) == ["epoch-00000000000000000002.done",
                               "epoch-00000000000000000003.done"]

    # checkpoint reset -> ledger gone with it -> epoch 0 processes again
    shutil.rmtree(paths.checkpoint_dir)
    on_batch2 = idempotent_batch_processor(paths)
    on_batch2(batch, 0)
    assert spark.read.parquet(paths.table("airwise_data")).count() == 5
    ledger = EpochLedger(spark, paths.ledger_dir)
    assert ledger.committed(0) and not ledger.committed(3)


def test_empty_routes_are_guarded_not_written(spark, tmp_path):
    """empty_check_guard (SURVEY §2.2): a batch with no rows for a
    route must not create that route's table (the r7 stats-aggregate
    guard replaced the per-route isEmpty probes — same contract, one
    job). A quarantine-only batch writes ONLY the quarantine table."""
    import os

    landing = str(tmp_path / "eg_landing")
    out = str(tmp_path / "eg_out")
    # one unknown-type packet + one corrupt line: every fact route empty
    write_packet_fixture(
        landing,
        [json.dumps({"from": 1, "id": 1, "type": "position",
                     "timestamp": 1760748940, "payload": {}}),
         '{"truncated": '],
        "b0.jsonl",
    )
    paths = IngestPaths(landing_dir=landing, out_dir=out)
    counts = process_packet_batch(packet_batch_source(spark, landing), paths)

    assert counts["quarantine"] == 2
    assert counts["airwise_data"] == 0
    assert counts["battery_data"] == 0
    assert counts["airwise_datav1"] == 0
    assert "nodeinfo" not in counts
    # the guard means no sink job ran: no fact/dim dirs exist at all
    for table in ("airwise_data", "battery_data", "airwise_datav1",
                  "node_dim", "airwise_hourly"):
        assert not os.path.isdir(paths.table(table)), table
    assert spark.read.json(paths.table("quarantine")).count() == 2


def test_mid_batch_crash_after_ledger_commit_is_exactly_once(spark, tmp_path):
    """CHAOS: kill the streaming query INSIDE foreachBatch after the
    fact write + ledger commit but BEFORE the streaming checkpoint
    commits the epoch, then restart on the same checkpoint. Structured
    Streaming re-delivers epoch 0 (offsets WAL written, commit log not),
    and the ledger must turn the re-delivery into a no-op — facts land
    EXACTLY ONCE. This is the epoch ledger's whole contract (the
    reference daemons' swallow-and-continue semantics,
    AIRWISEv0v1comb.py:326-331, upgraded to exactly-once); the graceful
    restart test above never exercises the crash window."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from meshtastic_airsensor_database_spark.streaming.ingest import EpochLedger

    landing = str(tmp_path / "cx_landing")
    out = str(tmp_path / "cx_out")
    write_packet_fixture(landing, as_json_lines(), "b0.jsonl")
    paths = IngestPaths(landing_dir=landing, out_dir=out)

    ledger_box: dict = {}

    def chaotic(batch, epoch_id):
        # same body as idempotent_batch_processor, plus the planted
        # crash in the post-commit / pre-checkpoint window
        if "l" not in ledger_box:
            ledger_box["l"] = EpochLedger(batch.sparkSession, paths.ledger_dir)
        ledger = ledger_box["l"]
        if ledger.committed(epoch_id):
            return
        process_packet_batch(batch, paths, with_counts=False)
        ledger.commit(epoch_id)
        raise RuntimeError("planted crash: after ledger commit, before checkpoint")

    from meshtastic_airsensor_database_spark.sources.landing import (
        packet_stream_source,
    )

    q = (
        packet_stream_source(spark, landing)
        .writeStream.foreachBatch(chaotic)
        .option("checkpointLocation", paths.checkpoint_dir)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="planted crash"):
        q.processAllAvailable()
        q.awaitTermination()
    q.stop()
    # facts written once; epoch 0 marked committed; checkpoint has no
    # commit record, so a restart WILL re-deliver epoch 0
    assert spark.read.parquet(paths.table("airwise_data")).count() == 1

    q2 = run_ingest_stream(spark, paths)  # same checkpoint + topology
    try:
        q2.processAllAvailable()
        # stream stays live after recovery: a new file lands as facts
        write_packet_fixture(
            landing,
            [json.dumps(dict(ALL_GOOD[0], id=4242, timestamp=1760749100))],
            "b1.jsonl",
        )
        q2.processAllAvailable()
    finally:
        q2.stop()
    env = spark.read.parquet(paths.table("airwise_data"))
    # exactly-once: epoch 0's replay was a ledger no-op, b1 appended
    assert env.count() == 2
    assert env.filter(F.col("timestamp_node") == 1760749100).count() == 1


def test_mid_batch_crash_with_stateful_dedup_recovers_state(spark, tmp_path):
    """CHAOS on the STATEFUL topology: crash after ledger commit with
    dropDuplicatesWithinWatermark in the plan, restart on the same
    checkpoint (same topology), and assert BOTH recovery contracts:
    the ledger makes the re-delivered epoch a no-op (facts exactly
    once), and the dedup STATE survives the crash — a post-restart
    re-broadcast of a pre-crash packet id is dropped by the recovered
    state store, not re-ingested."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from meshtastic_airsensor_database_spark.streaming.ingest import EpochLedger

    landing = str(tmp_path / "cz_landing")
    out = str(tmp_path / "cz_out")
    write_packet_fixture(landing, as_json_lines(), "b0.jsonl")
    paths = IngestPaths(landing_dir=landing, out_dir=out)

    ledger_box: dict = {}

    def chaotic(batch, epoch_id):
        if "l" not in ledger_box:
            ledger_box["l"] = EpochLedger(batch.sparkSession, paths.ledger_dir)
        ledger = ledger_box["l"]
        if ledger.committed(epoch_id):
            return
        process_packet_batch(batch, paths, with_counts=False)
        ledger.commit(epoch_id)
        raise RuntimeError("planted crash: stateful topology")

    q = run_ingest_stream(
        spark, paths, dedup_within_watermark=True, batch_processor=chaotic
    )
    with pytest.raises(StreamingQueryException, match="planted crash"):
        q.processAllAvailable()
        q.awaitTermination()
    try:
        q.stop()
    except StreamingQueryException:
        pass  # stop() rethrows the terminal exception on the stateful path
    assert spark.read.parquet(paths.table("airwise_data")).count() == 1

    q2 = run_ingest_stream(spark, paths, dedup_within_watermark=True)
    try:
        q2.processAllAvailable()
        # post-restart file: one RE-BROADCAST of the pre-crash env
        # packet (same [from, id] — recovered state must drop it) and
        # one genuinely new packet (must land)
        write_packet_fixture(
            landing,
            [json.dumps(ALL_GOOD[0]),
             json.dumps(dict(ALL_GOOD[0], id=5151, timestamp=1760749160))],
            "b1.jsonl",
        )
        q2.processAllAvailable()
    finally:
        q2.stop()
    env = spark.read.parquet(paths.table("airwise_data"))
    # 1 (pre-crash, exactly once via ledger) + 1 (new) — the replayed
    # duplicate was dropped by the RECOVERED dedup state
    assert env.count() == 2
    assert env.filter(F.col("timestamp_node") == 1760749160).count() == 1


def test_mid_batch_crash_before_ledger_commit_is_absorbed_by_dedup(
    spark, tmp_path
):
    """CHAOS at the OTHER abort point: crash after the fact write but
    BEFORE the ledger commit. This window is documented at-least-once
    (streaming/ingest.py module docstring): the replayed epoch appends
    the facts a second time, and the composite packet identity
    [node, timestamp_node] is what downstream dedup keys on — assert
    both halves of that contract instead of pretending the window is
    exactly-once."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from meshtastic_airsensor_database_spark.sources.landing import (
        packet_stream_source,
    )
    from meshtastic_airsensor_database_spark.streaming.ingest import EpochLedger

    landing = str(tmp_path / "cy_landing")
    out = str(tmp_path / "cy_out")
    write_packet_fixture(landing, as_json_lines(), "b0.jsonl")
    paths = IngestPaths(landing_dir=landing, out_dir=out)

    def chaotic(batch, epoch_id):
        ledger = EpochLedger(batch.sparkSession, paths.ledger_dir)
        if ledger.committed(epoch_id):
            return
        process_packet_batch(batch, paths, with_counts=False)
        raise RuntimeError("planted crash: after fact write, before ledger commit")

    q = (
        packet_stream_source(spark, landing)
        .writeStream.foreachBatch(chaotic)
        .option("checkpointLocation", paths.checkpoint_dir)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="planted crash"):
        q.processAllAvailable()
        q.awaitTermination()
    q.stop()

    q2 = run_ingest_stream(spark, paths)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    env = spark.read.parquet(paths.table("airwise_data"))
    # at-least-once: the epoch replayed in full...
    assert env.count() == 2
    # ...and the packet identity collapses it back to exactly-once
    assert env.dropDuplicates(["node", "timestamp_node"]).count() == 1


def test_pooled_sink_failure_propagates_and_batch_recovers(
    spark, tmp_path, monkeypatch
):
    """The r8 sink pool must not swallow a failing sink: one fact
    write raising inside its driver thread fails the whole batch (so
    the epoch is NOT committed and will replay), the pool drains
    before the caches unpersist, and a subsequent clean run of the
    same batch succeeds end-to-end."""
    import meshtastic_airsensor_database_spark.streaming.ingest as ingest_mod

    landing = str(tmp_path / "pf_landing")
    out = str(tmp_path / "pf_out")
    write_packet_fixture(landing, as_json_lines(), "b0.jsonl")
    paths = IngestPaths(landing_dir=landing, out_dir=out)
    batch = packet_batch_source(spark, landing)

    orig = ingest_mod.parquet_table_sink

    def failing(df, path, partition_by=None):
        if path.endswith("airwise_datav1"):
            raise RuntimeError("planted sink failure")
        return orig(df, path, partition_by=partition_by)

    monkeypatch.setattr(ingest_mod, "parquet_table_sink", failing)
    with pytest.raises(RuntimeError, match="planted sink failure"):
        process_packet_batch(batch, paths, with_counts=False)

    # clean retry (the replay the ledger would trigger) fully succeeds
    monkeypatch.setattr(ingest_mod, "parquet_table_sink", orig)
    counts = process_packet_batch(batch, paths)
    assert counts["airwise_datav1"] == 1
    assert spark.read.parquet(paths.table("airwise_datav1")).count() == 1


def test_clean_source_archives_processed_landing_files(spark, tmp_path):
    """clean_source='archive' must retire PROCESSED landing files into
    the archive dir (async cleaner — poll) while the facts they carried
    are fully ingested: the production lever that keeps the landing dir
    and its per-trigger listing bounded by the unprocessed backlog
    instead of growing with deployment age."""
    import time as time_mod

    landing = str(tmp_path / "cs_landing")
    out = str(tmp_path / "cs_out")
    archive = str(tmp_path / "cs_archive")
    pkts = [
        json.dumps(dict(ALL_GOOD[0], id=9300 + i,
                        timestamp=ALL_GOOD[0]["timestamp"] + 30 * i))
        for i in range(4)
    ]
    write_packet_fixture(landing, pkts[:2], "b0.jsonl")
    write_packet_fixture(landing, pkts[2:3], "b1.jsonl")
    paths = IngestPaths(landing_dir=landing, out_dir=out)
    q = run_ingest_stream(
        spark, paths, max_files_per_trigger=1,
        clean_source="archive", source_archive_dir=archive,
    )
    try:
        q.processAllAvailable()
        # a batch's files are retired when a LATER batch commits, so the
        # tail file legitimately lingers until the next trigger — land
        # one more file to advance the stream, then poll for the async
        # cleaner to retire the earlier two
        write_packet_fixture(landing, pkts[3:], "b2.jsonl")
        q.processAllAvailable()
        deadline = time_mod.time() + 30
        while time_mod.time() < deadline:
            left = {
                n for n in os.listdir(landing) if n.endswith(".jsonl")
            } & {"b0.jsonl", "b1.jsonl"}
            if not left:
                break
            time_mod.sleep(0.5)
        assert not left, f"processed landing files not archived: {left}"
    finally:
        q.stop()
    archived = [
        n
        for _, _, names in os.walk(archive)
        for n in names
        if n.endswith(".jsonl")
    ]
    assert {"b0.jsonl", "b1.jsonl"} <= set(archived), archived
    assert spark.read.parquet(paths.table("airwise_data")).count() == 4


def test_pooled_sink_jobs_inherit_job_group(spark, tmp_path):
    """Sink jobs submitted from the batch's driver-thread pool must
    carry the submitting thread's job group (r8 ADVICE): without
    propagation, query.stop() can't cancel in-flight pooled jobs and
    they lose UI attribution. Set a group, run a full batch (dlq +
    rollup + 3 fact writes all go through the pool), and assert the
    group saw the pooled jobs too — not just the serial stats/dim ones."""
    landing = str(tmp_path / "jg_landing")
    out = str(tmp_path / "jg_out")
    write_packet_fixture(landing, as_json_lines(), "b0.jsonl")
    paths = IngestPaths(landing_dir=landing, out_dir=out)
    sc = spark.sparkContext
    sc.setJobGroup("ingest-jobgroup-test", "pooled sink attribution", True)
    try:
        process_packet_batch(
            packet_batch_source(spark, landing), paths, with_counts=False
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    ids = sc.statusTracker().getJobIdsForGroup("ingest-jobgroup-test")
    # stats + dim upsert run on the driver thread (2); dlq, rollup and
    # the 3 fact writes run in the pool (5) — the group must hold them
    # all, so anything <= 3 means the pooled jobs escaped the group
    assert len(ids) >= 6, ids


def test_rollup_is_idempotent_under_epoch_replay(spark, tmp_path):
    """CHAOS on the continuous aggregate: crash AFTER the rollup fold
    but BEFORE the ledger commit. The fact tables tolerate this window
    at-least-once (packet-identity dedup absorbs the duplicate append —
    previous test), but the rollup is ADDITIVE: an unguarded re-fold of
    the replayed epoch would double-count the batch. The (run, epoch)
    stamp (maintain_rollup epoch_tag) must make the replayed fold
    rewrite the affected partitions unchanged: after restart the rollup
    count equals the fact count pre-duplication, not 2x.

    Mutation-verified (r8): neutering the guard's tag comparison makes
    this test fail with the doubled count — it detects the bug class it
    exists for, not just the happy path."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from meshtastic_airsensor_database_spark.sources.landing import (
        packet_stream_source,
    )
    from meshtastic_airsensor_database_spark.streaming.ingest import EpochLedger
    from meshtastic_airsensor_database_spark.streaming.rollup import read_rollup

    landing = str(tmp_path / "ri_landing")
    out = str(tmp_path / "ri_out")
    write_packet_fixture(landing, as_json_lines(), "b0.jsonl")
    paths = IngestPaths(landing_dir=landing, out_dir=out)

    def chaotic(batch, epoch_id):
        # mirrors idempotent_batch_processor EXCEPT the ledger commit:
        # the fold lands with the real (run, epoch) tag, then we die in
        # the documented at-least-once window
        ledger = EpochLedger(batch.sparkSession, paths.ledger_dir)
        if ledger.committed(epoch_id):
            return
        process_packet_batch(
            batch, paths, with_counts=False,
            epoch_tag=f"{ledger.run_tag()}:{epoch_id}",
        )
        raise RuntimeError("planted crash: after rollup fold, before ledger commit")

    q = (
        packet_stream_source(spark, landing)
        .writeStream.foreachBatch(chaotic)
        .option("checkpointLocation", paths.checkpoint_dir)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="planted crash"):
        q.processAllAvailable()
        q.awaitTermination()
    q.stop()
    folded_once = read_rollup(
        spark, paths.table("airwise_hourly"), ["node"]
    ).agg(F.sum("n").alias("n")).collect()[0]["n"]

    # restart on the same checkpoint: the epoch replays in full (the
    # default processor derives the SAME run tag from the persisted
    # ledger dir, so the stamps match and the re-fold is a no-op)
    q2 = run_ingest_stream(spark, paths)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    env = spark.read.parquet(paths.table("airwise_data"))
    assert env.count() == 2  # facts: documented at-least-once window
    roll = read_rollup(spark, paths.table("airwise_hourly"), ["node"])
    total = roll.agg(F.sum("n").alias("n")).collect()[0]["n"]
    assert total == folded_once, (total, folded_once)
    # and the rollup tracks the DEDUPED fact view, not the raw appends
    assert total == env.dropDuplicates(["node", "timestamp_node"]).count()


def test_dim_snapshot_survives_crash_during_swap(spark, tmp_path):
    """CHAOS on the dimension SNAPSHOT itself (ADVICE r7, medium): the
    r7 in-place overwrite deleted the live node_dim dir before the new
    files committed, so a crash in that window silently reset the
    dimension to the seed — erasing accumulated nodeinfo history. The
    fix stages to ``._next`` and atomic-renames into place; every crash
    window leaves a complete copy and ``_load_node_dim`` self-heals.
    Simulate each window by hand and assert the accumulated rename
    (never the seed) survives."""
    import os
    import shutil

    from meshtastic_airsensor_database_spark.streaming.ingest import (
        _load_node_dim,
    )

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    renamed = dict(NODEINFO_PACKET)
    renamed["payload"] = dict(renamed["payload"], longname="Farm6-renamed")
    write_packet_fixture(landing, [json.dumps(renamed)], "batch-0.jsonl")
    paths = IngestPaths(landing_dir=landing, out_dir=out)
    process_packet_batch(packet_batch_source(spark, landing), paths)

    dim_path = paths.table("node_dim")
    node = NODEINFO_PACKET["from"]

    def dim_names():
        return {
            r["node"]: r["longname"]
            for r in _load_node_dim(spark, paths).collect()
        }

    # window (a): crash after live -> ._old but before ._next -> live
    # (live missing; ._next is complete by protocol — renames only start
    # after the staging write committed)
    shutil.copytree(dim_path, dim_path + "._next")
    os.rename(dim_path, dim_path + "._old")
    assert dim_names()[node] == "Farm6-renamed"  # healed from ._next
    assert os.path.isdir(dim_path)
    assert not os.path.isdir(dim_path + "._next")
    assert not os.path.isdir(dim_path + "._old")

    # window (b): crash mid-write of ._next (partial staging garbage)
    # with live intact — live wins, and the NEXT nodeinfo batch's
    # overwrite of ._next clears the garbage and swaps cleanly
    os.makedirs(dim_path + "._next")
    with open(dim_path + "._next/part-garbage.parquet", "w") as fh:
        fh.write("not parquet")
    assert dim_names()[node] == "Farm6-renamed"
    renamed2 = dict(NODEINFO_PACKET, id=1005,
                    timestamp=NODEINFO_PACKET["timestamp"] + 60)
    renamed2["payload"] = dict(renamed2["payload"], longname="Farm6-v2")
    write_packet_fixture(landing, [json.dumps(renamed2)], "batch-1.jsonl")
    os.remove(os.path.join(landing, "batch-0.jsonl"))
    process_packet_batch(packet_batch_source(spark, landing), paths)
    assert dim_names()[node] == "Farm6-v2"
    assert not os.path.isdir(dim_path + "._next")

    # window (c): defensive — only ._old survives (live + ._next gone)
    os.rename(dim_path, dim_path + "._old")
    assert dim_names()[node] == "Farm6-v2"  # healed from ._old
    assert os.path.isdir(dim_path)

    # seed rows were carried through every heal
    assert len(dim_names()) == 6


def test_outage_episodes_streaming_session_windows(spark, tmp_path):
    """session_window works in streaming mode (SURVEY §2.9
    windowed_ingest): episodes close and emit once the watermark passes
    the session gap."""
    from meshtastic_airsensor_database_spark.operators.parse import (
        extract_v0_env_facts,
        json_envelope_parse,
    )
    from meshtastic_airsensor_database_spark.sources.landing import packet_stream_source
    from meshtastic_airsensor_database_spark.streaming.monitor import outage_episodes

    landing = str(tmp_path / "sw_landing")

    def env(node, ts):
        return json.dumps(
            {
                "from": node, "id": ts, "type": "telemetry", "timestamp": ts,
                "payload": {"temperature": 20.0, "relative_humidity": 40.0,
                            "barometric_pressure": 1000.0, "gas_resistance": 1.0,
                            "iaq": 10},
            }
        )

    base = 1_700_000_000
    # episode 1: two readings 10 min apart; then a 200-min silence
    write_packet_fixture(
        landing, [env(1, base), env(1, base + 600)], "b0.jsonl"
    )

    raw = packet_stream_source(spark, landing)
    facts = extract_v0_env_facts(json_envelope_parse(raw)).withWatermark(
        "event_ts", "10 minutes"
    )
    eps = outage_episodes(facts, gap_minutes=100)
    query = (
        eps.writeStream.format("memory")
        .queryName("sw_eps")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sw_ckpt"))
        .start()
    )
    try:
        query.processAllAvailable()
        # a reading 200 min later starts episode 2 AND advances the
        # watermark past episode 1's gap -> episode 1 closes and emits
        write_packet_fixture(landing, [env(1, base + 12000)], "b1.jsonl")
        query.processAllAvailable()
        rows = spark.sql(
            "SELECT node, n_readings FROM sw_eps ORDER BY episode_start"
        ).collect()
        assert [(r.node, r.n_readings) for r in rows] == [(1, 2)]
    finally:
        query.stop()


def test_stream_stream_interval_join_cross_batch(spark, tmp_path):
    """Watermarked stream-stream interval join: an env row arriving in
    batch 0 must match a battery row that only arrives in batch 1 (the
    join state holds the env side until its window closes), and rows
    outside the ±bound or on other nodes must not match."""
    import os

    from meshtastic_airsensor_database_spark.streaming.joins import (
        run_env_battery_join_stream,
    )

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")

    def env(node, ts, temp):
        return json.dumps(
            {
                "from": node, "id": ts, "type": "telemetry", "timestamp": ts,
                "payload": {"temperature": temp, "relative_humidity": 40.0,
                            "barometric_pressure": 1000.0,
                            "gas_resistance": 1.0, "iaq": 10},
            }
        )

    def bat(node, ts, level):
        return json.dumps(
            {
                "from": node, "id": ts, "type": "telemetry", "timestamp": ts,
                "payload": {"battery_level": level, "voltage": 3.9,
                            "uptime_seconds": 1},
            }
        )

    base = 1_700_000_000
    # batch 0: two env readings, no battery yet
    write_packet_fixture(
        landing, [env(1, base, 20.0), env(2, base + 60, 21.0)], "b0.jsonl"
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        q = run_env_battery_join_stream(
            spark, landing, out, bound_seconds=600, max_files_per_trigger=1
        )
        try:
            q.processAllAvailable()
            # batch 1: battery rows — node 1 inside the bound (matches the
            # buffered env row), node 2 outside the bound, node 3 unmatched
            write_packet_fixture(
                landing,
                [bat(1, base + 300, 88.0), bat(2, base + 60 + 601, 70.0),
                 bat(3, base + 100, 50.0)],
                "b1.jsonl",
            )
            q.processAllAvailable()
        finally:
            q.stop()
        rows = spark.read.parquet(os.path.join(out, "env_battery_joined")).collect()
        assert [(r.node, r.env_epoch, r.bat_epoch, r.lag_seconds, r.battery_level)
                for r in rows] == [(1, base, base + 300, 300, 88.0)]
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_quarantine_captures_corrupt_and_unknown_packets(spark, tmp_path):
    """The DLQ replaces the reference's silent drop (AIRWISEv0.py:
    112-114,155-157): truncated JSON and unknown packet types land in
    the quarantine table tagged with the violated rule; rows that
    merely fail FIELD parsing (bad v1 text payload) are a downstream
    concern and must NOT be quarantined here."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    write_packet_fixture(landing, as_json_lines(), "batch-0.jsonl")
    paths = IngestPaths(landing_dir=landing, out_dir=out)

    counts = process_packet_batch(packet_batch_source(spark, landing), paths)

    assert counts["quarantine"] == 2
    dlq = spark.read.json(paths.table("quarantine"))
    rows = {tuple(sorted(r["violations"])): r["raw"] for r in dlq.collect()}
    assert ("parseable_json",) in rows  # truncated JSON
    assert rows[("known_packet_type",)].find('"position"') != -1
    assert dlq.count() == 2  # BAD_TEXT_PACKET stays out of the DLQ


def test_progress_frame_and_health_rollup(spark, tmp_path):
    """The observability harvester turns a live query's recentProgress
    into a typed frame: batch ids monotone, input rows accounted, the
    watermark column real (not the epoch sentinel) once data flowed,
    and the health rollup aggregates to one row per query."""
    import json as _json

    from meshtastic_airsensor_database_spark.operators.parse import (
        extract_v0_env_facts,
        json_envelope_parse,
    )
    from meshtastic_airsensor_database_spark.sources.landing import (
        packet_stream_source,
    )
    from meshtastic_airsensor_database_spark.streaming.observe import (
        progress_frame,
        progress_health,
    )

    landing = str(tmp_path / "obs_landing")

    def env(node, ts):
        return _json.dumps(
            {"from": node, "id": ts, "type": "telemetry", "timestamp": ts,
             "payload": {"temperature": 20.0, "relative_humidity": 40.0,
                         "barometric_pressure": 1000.0, "gas_resistance": 1.0,
                         "iaq": 10}}
        )

    write_packet_fixture(landing, [env(1, 1_700_000_000 + i) for i in range(5)], "b0.jsonl")
    facts = extract_v0_env_facts(
        json_envelope_parse(packet_stream_source(spark, landing))
    )
    agg = (
        facts.withWatermark("event_ts", "10 minutes")
        .groupBy(F.window("event_ts", "10 minutes"), "node")
        .count()
    )
    query = (
        agg.writeStream.format("memory")
        .queryName("obs_agg")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "obs_ckpt"))
        .start()
    )
    try:
        query.processAllAvailable()
        write_packet_fixture(landing, [env(1, 1_700_000_900)], "b1.jsonl")
        query.processAllAvailable()
        pf = progress_frame(spark, query)
        rows = pf.orderBy("batch_id").collect()
        assert len(rows) >= 2
        ids = [r["batch_id"] for r in rows]
        assert ids == sorted(ids)
        assert sum(r["num_input_rows"] or 0 for r in rows) == 6
        assert any(
            r["watermark"] is not None and r["watermark"].year > 1970
            for r in rows
        )
        health = progress_health(pf).collect()
        assert len(health) == 1
        h = health[0]
        assert h["total_rows"] == 6 and h["n_batches"] == len(rows)
        assert h["max_watermark_lag_s"] is not None
    finally:
        query.stop()


def test_offline_monitor_state_survives_crash_restart(spark, tmp_path):
    """CHAOS on the MONITOR topology (r7 verdict #4): the ingest chaos
    trio covers foreachBatch ingest; this kills the
    applyInPandasWithState offline monitor MID-OUTAGE — after the
    OFFLINE alert's epoch committed — and restarts on the same
    checkpoint. Contract (the reference's exactly-one-alert,
    AIRWISEv0.py:85-96, under restart): the alert_sent flag SURVIVES in
    the state store, so (a) the outage never re-alerts after recovery,
    and (b) the resumed heartbeat still fires the ONLINE transition —
    which is also the observable proof the flag survived: a lost state
    row would make the resumed heartbeat emit NOTHING."""
    import time

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from meshtastic_airsensor_database_spark.operators.parse import (
        extract_nodeinfo,
        json_envelope_parse,
    )
    from meshtastic_airsensor_database_spark.sources.landing import (
        packet_stream_source,
    )
    from meshtastic_airsensor_database_spark.streaming.monitor import (
        offline_monitor_stream,
    )

    landing = str(tmp_path / "cm_landing")
    ckpt = str(tmp_path / "cm_ckpt")
    events_path = str(tmp_path / "cm_events")

    def nodeinfo(node, ts, name):
        return json.dumps({
            "from": node, "id": ts, "type": "nodeinfo", "timestamp": ts,
            "payload": {"id": f"!{node:x}", "longname": name},
        })

    def start(sink_fn):
        raw = packet_stream_source(spark, landing)
        heartbeats = extract_nodeinfo(json_envelope_parse(raw)).select(
            "node", "longname", F.col("updated_ts").alias("ts")
        )
        events = offline_monitor_stream(heartbeats, threshold_minutes=0.1 / 60)
        return (
            events.writeStream.foreachBatch(sink_fn)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )

    def record(batch, epoch_id):
        batch.withColumn("epoch", F.lit(epoch_id)).write.mode("append").parquet(
            events_path
        )

    def events_seen():
        try:
            return [
                (r["node"], r["event"], r["epoch"])
                for r in spark.read.parquet(events_path).collect()
            ]
        except Exception:
            return []  # no events written yet

    def n_offline_node1(up_to_epoch=None):
        return sum(
            1
            for node, event, epoch in events_seen()
            if node == 1 and event == "OFFLINE"
            and (up_to_epoch is None or epoch <= up_to_epoch)
        )

    def wait_for(q, node, event, deadline_s=60.0):
        end = time.time() + deadline_s
        while time.time() < end:
            for n, ev, epoch in events_seen():
                if (n, ev) == (node, event):
                    return epoch
            exc = q.exception()
            assert exc is None, exc
            time.sleep(0.2)
        raise AssertionError(f"timed out waiting for ({node}, {event})")

    # phase 1: node 1 heartbeats, then goes silent -> OFFLINE commits
    crash = {"armed": False}

    def chaotic(batch, epoch_id):
        if crash["armed"]:
            raise RuntimeError("planted crash: monitor mid-outage")
        record(batch, epoch_id)

    write_packet_fixture(landing, [nodeinfo(1, 1000, "Farm1")], "b0.jsonl")
    q = start(chaotic)
    try:
        wait_for(q, 1, "OFFLINE")
        # the OFFLINE epoch is committed; kill the NEXT batch (a second
        # node's heartbeat) mid-flight — offsets WAL written, commit log
        # not, so the restart replays it against the RECOVERED state
        crash["armed"] = True
        write_packet_fixture(landing, [nodeinfo(2, 1100, "Farm2")], "b1.jsonl")
        end = time.time() + 60
        while q.exception() is None and time.time() < end:
            time.sleep(0.2)
        assert q.exception() is not None, "planted crash never fired"
    finally:
        try:
            q.stop()
        except StreamingQueryException:
            pass  # stop() rethrows the terminal exception on stateful paths

    assert n_offline_node1() == 1

    # phase 2: restart on the same checkpoint with a clean sink
    q2 = start(record)
    try:
        # give the recovered timers ample time to (wrongly) re-fire:
        # threshold is 0.1 s, so 3 s of silence would re-alert if the
        # alert_sent flag had been lost
        time.sleep(3.0)
        assert n_offline_node1() == 1, events_seen()
        # resumed heartbeat: ONLINE fires IFF the flag survived (a lost
        # state row would emit nothing for a fresh heartbeat)
        write_packet_fixture(landing, [nodeinfo(1, 3000, "Farm1")], "b2.jsonl")
        online_epoch = wait_for(q2, 1, "ONLINE")
    finally:
        q2.stop()
    # exactly one OFFLINE across crash + restart up to the ONLINE
    # transition (any later OFFLINE is a legitimately NEW outage — the
    # re-armed 0.1 s timer can fire again before stop())
    assert n_offline_node1(up_to_epoch=online_epoch) == 1, events_seen()


def _fake_file_stream_checkpoint(ckpt_dir, consumed_path):
    """Minimal FileStreamSource checkpoint shape: sources/0/0 logging
    one consumed file (the on-disk trace a real monitor query leaves)."""
    src = os.path.join(str(ckpt_dir), "sources", "0")
    os.makedirs(src)
    with open(os.path.join(src, "0"), "w", encoding="utf-8") as fh:
        fh.write("v1\n")
        fh.write(json.dumps({
            "path": "file://" + str(consumed_path),
            "timestamp": 1700000000000, "batchId": 0,
        }) + "\n")


def test_clean_source_warns_when_another_consumer_shares_landing(
    spark, tmp_path
):
    """r9 verdict #7: the single-consumer constraint of landing-file
    retirement must be a runtime guard, not just compose prose — a
    foreign file-stream checkpoint consuming the same landing dir
    (the default deploy's monitor) triggers a loud RuntimeWarning
    naming it."""
    import warnings

    data = tmp_path / "data"
    landing = data / "landing"
    out = data / "out"
    write_packet_fixture(str(landing), as_json_lines(), "b0.jsonl")
    # the monitor's checkpoint, sibling of the landing dir (compose
    # layout), already logged a batch from this landing dir
    _fake_file_stream_checkpoint(
        data / "monitor_ckpt", landing / "b0.jsonl"
    )

    paths = IngestPaths(landing_dir=str(landing), out_dir=str(out))
    with pytest.warns(RuntimeWarning, match="monitor_ckpt"):
        q = run_ingest_stream(spark, paths, clean_source="delete")
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # negative control: same layout, but the foreign checkpoint reads a
    # DIFFERENT landing dir -> no warning (and restarting our own query
    # must not trip over its own checkpoint either)
    data2 = tmp_path / "data2"
    landing2 = data2 / "landing"
    out2 = data2 / "out"
    write_packet_fixture(str(landing2), as_json_lines(), "b0.jsonl")
    _fake_file_stream_checkpoint(
        data2 / "monitor_ckpt", data2 / "other_landing" / "b0.jsonl"
    )
    paths2 = IngestPaths(landing_dir=str(landing2), out_dir=str(out2))
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        q2 = run_ingest_stream(spark, paths2, clean_source="delete")
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        # restart: our own (now populated) checkpoint is not "another
        # consumer"
        q3 = run_ingest_stream(spark, paths2, clean_source="delete")
        try:
            q3.processAllAvailable()
        finally:
            q3.stop()


def test_replay_from_archive_rebuilds_identical_facts(spark, tmp_path):
    """r9 verdict #2: 'archive' retirement moves processed landing
    files out of the landing dir — prove the archive stays a SUFFICIENT
    durable record by replaying it from scratch and asserting the
    rebuilt fact tables, node dim, rollup and quarantine equal the
    original streaming ingest's (modulo the wallclock ingest stamp and
    the epoch tag, both delivery-time identities by design). This is
    the durability claim the reference cannot make: a crash between
    MQTT ack and INSERT loses the packet forever (AIRWISEv0.py:276-305)."""
    import time as time_mod

    landing = str(tmp_path / "ra_landing")
    out = str(tmp_path / "ra_out")
    archive = str(tmp_path / "ra_archive")
    out2 = str(tmp_path / "ra_out_replay")

    # two files -> two micro-batches (maxFilesPerTrigger=1): varied
    # packet types incl. a corrupt line, then three more env readings
    write_packet_fixture(
        landing, as_json_lines() + [MALFORMED_JSON], "b0.jsonl"
    )
    write_packet_fixture(
        landing,
        [
            json.dumps(dict(ALL_GOOD[0], id=9400 + i,
                            timestamp=ALL_GOOD[0]["timestamp"] + 60 * i))
            for i in range(3)
        ],
        "b1.jsonl",
    )

    paths = IngestPaths(landing_dir=landing, out_dir=out)
    q = run_ingest_stream(
        spark, paths, max_files_per_trigger=1,
        clean_source="archive", source_archive_dir=archive,
    )
    try:
        q.processAllAvailable()
        # a batch's files are retired when a LATER batch commits: b0
        # archives once b1's batch commits (async cleaner — poll); the
        # tail file legitimately stays in the landing dir
        deadline = time_mod.time() + 30
        while time_mod.time() < deadline:
            if not os.path.exists(os.path.join(landing, "b0.jsonl")):
                break
            time_mod.sleep(0.5)
        assert not os.path.exists(os.path.join(landing, "b0.jsonl"))
    finally:
        q.stop()

    def snapshot(p: IngestPaths) -> dict:
        snap: dict = {}
        for table, drop in (
            ("airwise_data", ("pst_time",)),
            ("airwise_datav1", ("pst_time",)),
            ("battery_data", ("pst_time",)),
            ("node_dim", ()),
            ("airwise_hourly", ("last_epoch",)),
        ):
            df = spark.read.parquet(p.table(table))
            df = df.drop(*[c for c in drop if c in df.columns])
            snap[table] = sorted(
                tuple(str(v) for v in row)
                for row in df.select(*sorted(df.columns)).collect()
            )
        from meshtastic_airsensor_database_spark.streaming.ingest import (
            QUARANTINE_SCHEMA,
        )

        dlq = spark.read.schema(QUARANTINE_SCHEMA).json(
            p.table("quarantine")
        )
        snap["quarantine"] = sorted(
            (row["raw"], tuple(row["violations"])) for row in dlq.collect()
        )
        return snap

    original = snapshot(paths)
    assert original["airwise_data"], "fixture produced no env facts"

    # replay FROM SCRATCH: the archive (nested under the original
    # absolute paths — recursive lookup) plus whatever the cleaner had
    # not yet retired from the landing dir
    replay = packet_batch_source(spark, archive, recursive=True)
    if any(n.endswith(".jsonl") for n in os.listdir(landing)):
        replay = replay.unionByName(packet_batch_source(spark, landing))
    paths2 = IngestPaths(landing_dir=landing, out_dir=out2)
    process_packet_batch(replay, paths2, with_counts=False)

    rebuilt = snapshot(paths2)
    assert rebuilt == original


def test_quarantine_view_single_shuffle(spark, tmp_path):
    """Both windows (per-delivery count, per-group best) must share ONE
    exchange: the view pre-partitions on (raw, epoch_tag), which also
    satisfies the wider per-delivery clustering — a second shuffle of
    the audit log would be pure waste."""
    import json as _json

    from meshtastic_airsensor_database_spark.streaming.ingest import (
        quarantine_view,
    )

    qdir = tmp_path / "q_plan"
    qdir.mkdir()
    (qdir / "p.json").write_text(
        _json.dumps({
            "raw": "x", "violations": ["v"],
            "quarantined_at": "2026-01-01T00:00:00.000Z",
            "epoch_tag": "a:0",
        }) + "\n"
    )
    df = quarantine_view(spark, str(qdir))
    simple = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert simple.count("Exchange") == 1, simple
