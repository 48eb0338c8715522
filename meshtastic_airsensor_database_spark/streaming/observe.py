"""Streaming observability: per-batch trace records -> DataFrame.

A 1000-executor deployment lives or dies by its per-batch telemetry:
input rate vs processing rate (falling behind?), batch duration
breakdown (where does the time go?), state-store growth (leaking
keys?), and watermark lag (how stale is event time vs wall clock?).
``trace.BatchTrace`` records all of it for every trigger, together
with the foreachBatch body's per-sink split and the CPU split; this
module turns those records into a typed DataFrame so the same engine
that runs the pipeline can query its own health — joinable,
windowable, sinkable like any fact table.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..trace import BATCH_KEYS

_TYPES = {
    "query_id": "string", "run_id": "string",
    "ts": "timestamp", "watermark": "timestamp",
    "input_rows_per_second": "double", "processed_rows_per_second": "double",
}


def _type(key: str) -> str:
    """Seconds are double, counts and milliseconds long."""
    return _TYPES.get(key, "double" if key.endswith("_s") else "long")


# one column per record key, its dots as underscores
PROGRESS_SCHEMA = ", ".join(f"{k.replace('.', '_')} {_type(k)}" for k in BATCH_KEYS)


def _value(key: str, v):
    t = _type(key)
    if v is None or t == "string":
        return v
    if t == "timestamp":
        # Spark emits e.g. 2024-01-01T00:00:00.123Z; the epoch-unstarted
        # watermark sentinel (1970-01-01) is NULL, so lag math never
        # sees it
        ts = datetime.fromisoformat(v).astimezone(timezone.utc).replace(tzinfo=None)
        return ts if ts.year > 1970 else None
    return float(v) if t == "double" else int(v)


def progress_frame(spark: SparkSession, records: list[dict]) -> DataFrame:
    """The typed DataFrame view of ``BatchTrace.records()``: one row
    per trigger, one column per record key (``PROGRESS_SCHEMA``)."""
    rows = [tuple(_value(k, r[k]) for k in BATCH_KEYS) for r in records]
    return spark.createDataFrame(rows, PROGRESS_SCHEMA)


def progress_health(frame: DataFrame) -> DataFrame:
    """Per-query health rollup over a progress frame: total rows, mean
    rates, p95 batch duration, max state size, and the worst watermark
    lag (batch wall-clock minus watermark) — the one number that says
    how far event time trails reality."""
    lag_s = F.unix_timestamp("ts") - F.unix_timestamp("watermark")
    return frame.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_batches"),
        F.sum("num_input_rows").cast("long").alias("total_rows"),
        F.round(F.avg("processed_rows_per_second"), 1).alias("avg_proc_rate"),
        F.expr("percentile(batch_duration_ms, 0.95)").alias("p95_batch_ms"),
        F.max("state_rows").alias("max_state_rows"),
        F.max(lag_s).alias("max_watermark_lag_s"),
    )
