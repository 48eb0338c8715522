"""Watermarked stream-stream interval join (SURVEY.md §2.9 extension).

The reference correlates battery and environment telemetry only offline
(separate tables, joined ad hoc in its chart scripts — graphdata.py
reads both CSVs). A live pipeline wants that correlation AS IT ARRIVES:
"for each environment reading, the battery state of the SAME node
within ±N seconds" — e.g. to flag sensor drift at low voltage. That is
exactly Spark's watermarked stream-stream inner join:

- both sides carry an event-time watermark, so the join state store
  keeps only rows whose match window is still open — bounded state at
  any scale (the join condition's time bound tells Spark how long an
  env row can still find a battery partner and vice versa);
- the equi-key (``node``) hash-partitions both streams the same way, so
  each task joins co-located state — no broadcast, no global state;
- at 100 TB/day the state size is (input rate × 2×bound) per side,
  independent of history length.

Append-mode output: a match is emitted once, when both sides have
arrived; rows later than the watermark are dropped on input (the same
late-data posture as streaming/ingest.py's dedup path).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.parse import battery_presence_predicate, json_envelope_parse, packet_type_filter
from ..sources.landing import packet_stream_source

# Default match window: a battery reading within ±10 minutes of the env
# reading (device duty cycles put the two telemetry kinds minutes apart).
JOIN_BOUND_SECONDS = 600
JOIN_WATERMARK = "10 minutes"


def _env_side(parsed: DataFrame) -> DataFrame:
    return (
        packet_type_filter(parsed, "telemetry")
        .filter(~battery_presence_predicate())
        .select(
            F.col("packet.from").alias("node"),
            F.timestamp_seconds(F.col("packet.timestamp")).alias("env_ts"),
            F.col("packet.payload.temperature").alias("temperature"),
            F.col("packet.payload.relative_humidity").alias("humidity"),
        )
        .filter(F.col("env_ts").isNotNull())
    )


def _battery_side(parsed: DataFrame) -> DataFrame:
    return (
        packet_type_filter(parsed, "telemetry")
        .filter(battery_presence_predicate())
        .select(
            F.col("packet.from").alias("bat_node"),
            F.timestamp_seconds(F.col("packet.timestamp")).alias("bat_ts"),
            F.col("packet.payload.voltage").alias("voltage"),
            F.col("packet.payload.battery_level").alias("battery_level"),
        )
        .filter(F.col("bat_ts").isNotNull())
    )


def env_battery_interval_join(
    env: DataFrame, battery: DataFrame, bound_seconds: int = JOIN_BOUND_SECONDS
) -> DataFrame:
    """The join itself — stream- and batch-agnostic (same lineage serves
    the streaming query and the batch/oracle twin). Equi-key ``node``
    plus a symmetric event-time interval: Catalyst plans the equi-part
    as the shuffle key and the range as a post-probe filter; in
    streaming the range bound is what lets the state store evict."""
    cond = (
        (env["node"] == battery["bat_node"])
        & (battery["bat_ts"] >= env["env_ts"] - F.expr(f"INTERVAL {bound_seconds} SECONDS"))
        & (battery["bat_ts"] <= env["env_ts"] + F.expr(f"INTERVAL {bound_seconds} SECONDS"))
    )
    return (
        env.join(battery, cond, "inner")
        .select(
            "node",
            F.col("env_ts").cast("long").alias("env_epoch"),
            F.col("bat_ts").cast("long").alias("bat_epoch"),
            (F.col("bat_ts").cast("long") - F.col("env_ts").cast("long")).alias(
                "lag_seconds"
            ),
            "temperature",
            "humidity",
            "voltage",
            "battery_level",
        )
    )


def run_env_battery_join_stream(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    bound_seconds: int = JOIN_BOUND_SECONDS,
    watermark: str = JOIN_WATERMARK,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Start the streaming interval-join query: two file streams over
    the same landing dir (each side filters its telemetry kind), both
    watermarked, appended to a parquet result table."""
    env = _env_side(
        json_envelope_parse(
            packet_stream_source(spark, landing_dir, max_files_per_trigger)
        )
    ).withWatermark("env_ts", watermark)
    battery = _battery_side(
        json_envelope_parse(
            packet_stream_source(spark, landing_dir, max_files_per_trigger)
        )
    ).withWatermark("bat_ts", watermark)
    joined = env_battery_interval_join(env, battery, bound_seconds)
    return (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(out_dir, "env_battery_joined"))
        .option("checkpointLocation", os.path.join(out_dir, "_join_checkpoint"))
        .start()
    )
