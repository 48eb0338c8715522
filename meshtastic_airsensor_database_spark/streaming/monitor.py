"""Stateful node monitoring (SURVEY.md §2.9, §7.1 M4).

The reference keeps three module-global dicts (node_heartbeats,
node_alerts_sent, node_dict — AIRWISEv0.py:24-31), refreshes last-seen
on every nodeinfo packet (AIRWISEv0.py:257-258), and a daemon thread
scans every 600 s for nodes silent > 100 min, sending exactly one
OFFLINE alert per outage (flag protocol AIRWISEv0.py:85-96; reset on
heartbeat :259-262).

Spark re-expression: keyed state in ``applyInPandasWithState`` with a
processing-time timeout equal to the offline threshold. The dict
becomes the state store (checkpointed, survives restarts — the
reference loses all heartbeat state on crash); the 600-s scan thread
disappears entirely because the state store fires per-key timeouts.

The transition logic is a pure function (``heartbeat_transition``) so
the exactly-one-alert contract is unit-testable without a streaming
harness; the Arrow/state wrapper is mechanical.
"""

from __future__ import annotations

import time
from collections.abc import Iterable
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OFFLINE_THRESHOLD_MINUTES = 100  # AIRWISEv0.py:20
SCAN_PERIOD_SECONDS = 600  # time.sleep(600), AIRWISEv0.py:99

MONITOR_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_seen_s", T.DoubleType()),
        T.StructField("alert_sent", T.BooleanType()),
        T.StructField("longname", T.StringType()),
    ]
)

MONITOR_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("node", T.LongType()),
        T.StructField("longname", T.StringType()),
        T.StructField("event", T.StringType()),  # 'OFFLINE' | 'ONLINE'
        T.StructField("last_seen_s", T.DoubleType()),
        T.StructField("message", T.StringType()),
    ]
)


def offline_message(longname: str | None, node: int, threshold_minutes: int) -> str:
    """Alert text, AIRWISEv0.py:53-56 parity."""
    return (
        f"Node OFFLINE: {longname} (**ID: {node}**) - "
        f"No message received for over {threshold_minutes} minutes"
    )


def heartbeat_transition(
    state: tuple[float | None, bool, str | None] | None,
    batch_last_seen_s: float | None,
    batch_longname: str | None,
    now_s: float,
    threshold_s: float,
    timed_out: bool,
) -> tuple[tuple[float | None, bool, str | None], list[tuple[str, str]]]:
    """One state-machine step for one node; returns (new_state, events).

    Events are (event, message) pairs. Contract (AIRWISEv0.py:85-96,
    :257-262): exactly one OFFLINE per outage (flag set on emit, no
    re-emit while set); heartbeat while flagged emits ONLINE (logged,
    not alerted in the reference) and re-arms.
    """
    last_seen_s, alert_sent, longname = state if state is not None else (None, False, None)
    node_name = batch_longname or longname
    events: list[tuple[str, str]] = []

    if batch_last_seen_s is not None:
        if alert_sent:
            events.append(("ONLINE", f"Node ONLINE: {node_name} - heartbeat resumed"))
        if last_seen_s is None or batch_last_seen_s > last_seen_s:
            last_seen_s = batch_last_seen_s
        alert_sent = False
    elif timed_out and not alert_sent and last_seen_s is not None:
        if now_s - last_seen_s >= threshold_s:
            events.append(("OFFLINE", "offline"))  # message filled by caller (needs node id)
            alert_sent = True

    return (last_seen_s, alert_sent, node_name), events


def rearm_delay_after_timeout(
    new_state: tuple[float | None, bool, str | None],
    events: list[tuple[str, str]],
    now_s: float,
    threshold_s: float,
) -> float | None:
    """Seconds until the next offline re-check after a timer fired, or
    None if no re-arm is needed.

    A fired timer whose threshold check declined to alert (node's
    event-time last_seen ahead of the processing clock — device clock
    skew) emits nothing; without re-arming, that key is never re-checked
    and the OFFLINE alert is silently lost until the next heartbeat.
    Re-arm for the remaining time, floored at 1 s. Once the alert HAS
    been sent (or the key has no last_seen), the next heartbeat re-arms
    instead — that is the exactly-one-alert-per-outage contract.
    """
    last_seen_s, alert_sent, _ = new_state
    if events or alert_sent or last_seen_s is None:
        return None
    return max(threshold_s - (now_s - last_seen_s), 1.0)


def offline_monitor_stream(
    heartbeats: DataFrame,
    threshold_minutes: int = OFFLINE_THRESHOLD_MINUTES,
) -> DataFrame:
    """Streaming heartbeat DF (node, longname, ts) -> OFFLINE/ONLINE events.

    Apply to the nodeinfo route (operators/parse.py::extract_nodeinfo).
    Processing-time timeout == threshold: a key with no packet for
    ``threshold_minutes`` fires exactly once (no timeout re-arm until the
    node is heard again), which IS the alert_edge_dedup contract. Wire
    the output to sinks.http_alert_sink inside foreachBatch.
    """
    threshold_s = float(threshold_minutes) * 60.0

    def fn(key: Any, pdfs: Iterable[Any], state: GroupState):
        import pandas as pd

        node = int(key[0])
        prev = tuple(state.get) if state.exists else None
        now_s = time.time()

        if state.hasTimedOut:
            new_state, events = heartbeat_transition(
                prev, None, None, now_s, threshold_s, timed_out=True
            )
            remaining_s = rearm_delay_after_timeout(new_state, events, now_s, threshold_s)
            if remaining_s is not None:
                state.setTimeoutDuration(int(remaining_s * 1000))
        else:
            batch_last = None
            batch_name = None
            for pdf in pdfs:
                if len(pdf) == 0:
                    continue
                ts_max = pdf["ts"].max()
                ts_s = ts_max.timestamp() if hasattr(ts_max, "timestamp") else float(ts_max)
                if batch_last is None or ts_s > batch_last:
                    batch_last = ts_s
                names = pdf["longname"].dropna()
                if len(names):
                    batch_name = names.iloc[-1]
            new_state, events = heartbeat_transition(
                prev, batch_last, batch_name, now_s, threshold_s, timed_out=False
            )
            # re-arm the offline timer only while the node is considered live
            state.setTimeoutDuration(int(threshold_s * 1000))

        state.update(new_state)
        last_seen_s, _alert_sent, longname = new_state
        rows = [
            {
                "node": node,
                "longname": longname,
                "event": ev,
                "last_seen_s": last_seen_s,
                "message": offline_message(longname, node, threshold_minutes)
                if ev == "OFFLINE"
                else msg,
            }
            for ev, msg in events
        ]
        if rows:
            yield pd.DataFrame(rows)

    return heartbeats.groupBy("node").applyInPandasWithState(
        fn,
        MONITOR_OUTPUT_SCHEMA,
        MONITOR_STATE_SCHEMA,
        "update",
        GroupStateTimeout.ProcessingTimeTimeout,
    )


def outage_episodes(
    facts: DataFrame, ts_col: str = "event_ts", gap_minutes: int = OFFLINE_THRESHOLD_MINUTES
) -> DataFrame:
    """Batch dual of offline detection: session windows with the offline
    threshold as the gap (SURVEY §2.9 windowed_ingest).

    Each session is an online episode; the gap between consecutive
    sessions is an outage. Works on batch or (with a watermark) on a
    stream.
    """
    return (
        facts.groupBy("node", F.session_window(F.col(ts_col), f"{gap_minutes} minutes"))
        .agg(
            F.count("*").alias("n_readings"),
            F.min(ts_col).alias("first_seen"),
            F.max(ts_col).alias("last_seen"),
        )
        .select(
            "node",
            F.col("session_window.start").alias("episode_start"),
            F.col("session_window.end").alias("episode_end"),
            "n_readings",
            "first_seen",
            "last_seen",
        )
    )


def register_lifecycle_alerts(spark, on_event) -> object:
    """Pipeline start/stop/crash notifications (SURVEY §2.9
    stream_lifecycle_alerts; AIRWISEv0.py:312,370,378,383).

    ``on_event(kind, description)`` is called with 'started' /
    'terminated' / 'progress'-free kinds; pass a closure over
    sources.sinks.http_alert_sink for ntfy parity. Returns the listener
    (keep a reference; remove with spark.streams.removeListener).
    """
    from pyspark.sql.streaming import StreamingQueryListener

    class _LifecycleListener(StreamingQueryListener):
        def onQueryStarted(self, event):
            on_event("started", f"stream {event.name or event.id} started")

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            kind = "crashed" if event.exception else "terminated"
            on_event(kind, f"stream {event.id} {kind}: {event.exception or 'clean stop'}")

    listener = _LifecycleListener()
    spark.streams.addListener(listener)
    return listener
