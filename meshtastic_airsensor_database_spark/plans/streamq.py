"""Driver-visible oracle queries for the streaming ingest path
(SURVEY.md §2.9 stream_route_multiplex / field_extraction /
node_dim_enrich / §2.11 exact_dedup on packets).

The golden packet replay (fixtures/golden_packets.jsonl ->
``process_packet_batch``, mirroring the reference's MQTT callback
pipeline AIRWISEv0v1comb.py:240-338) previously lived only in pytest.
Here each query REPLAYS the committed fixture through the real batch
core — parse, composite (from,id) dedup, 4-way route, nodeinfo dim
upsert, broadcast enrichment, parquet fact sinks — then declares the
resulting fact tables' rows. The DuckDB twin is a full SECOND
IMPLEMENTATION of the same semantics over the same raw JSONL
(read_json + window dedup + latest-wins dim upsert + left join), so a
hash match proves the end-to-end route/extract/enrich behavior, not
just a snapshot equality.

Only deterministic columns are declared (``pst_time``, the ingest
wallclock stamp, is excluded by construction).
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io_utils import ephemeral_dir
from ..schemas import NODE_DIM_SEED, V1_TEXT_FIELDS
from .base import Query

FIXTURE_DIR = Path(__file__).resolve().parents[2] / "fixtures"
FIXTURE_PATH = FIXTURE_DIR / "golden_packets.jsonl"

# One replay per SparkSession: the fact tables land in a temp dir that
# lives for the session; every streamq query reads from it. The replay
# itself is the system under test (the identical function serves
# foreachBatch in production).
_REPLAY_CACHE: dict[str, str] = {}


def _replayed_out_dir(spark: SparkSession) -> str:
    from ..sources.landing import packet_batch_source
    from ..streaming.ingest import IngestPaths, process_packet_batch

    key = spark.sparkContext.applicationId
    out = _REPLAY_CACHE.get(key)
    if out is not None and os.path.isdir(os.path.join(out, "airwise_data")):
        return out
    out = ephemeral_dir("golden_replay_")
    paths = IngestPaths(landing_dir=str(FIXTURE_DIR), out_dir=out)
    batch = packet_batch_source(spark, str(FIXTURE_DIR))
    process_packet_batch(batch, paths)
    _REPLAY_CACHE[key] = out
    return out


def _fact(spark: SparkSession, table: str) -> DataFrame:
    return spark.read.parquet(os.path.join(_replayed_out_dir(spark), table))


# --- SQL twin plumbing (DuckDB re-implementation of the batch core) ----------

_PAYLOAD_STRUCT = (
    "STRUCT(temperature DOUBLE, relative_humidity DOUBLE, "
    "barometric_pressure DOUBLE, gas_resistance DOUBLE, iaq INTEGER, "
    "battery_level DOUBLE, voltage DOUBLE, uptime_seconds BIGINT, "
    '"text" VARCHAR, id VARCHAR, longname VARCHAR, shortname VARCHAR)'
)

_SEED_VALUES = ", ".join(
    f"({node}, '{topic}', '{name}')" for node, topic, name in NODE_DIM_SEED
)

# v1 CSV parse: same regex split + try_cast + all-9-present rule as
# operators/parse.py::csv_text_payload_parse.
_V1_COLS = ", ".join(
    f"TRY_CAST(trim(string_split_regex(trim(payload.text), '\\s*,\\s*')[{i + 1}]) "
    f"AS DOUBLE) AS {name}"
    for i, name in enumerate(V1_TEXT_FIELDS)
)
_V1_ALL_PRESENT = " AND ".join(f"{name} IS NOT NULL" for name in V1_TEXT_FIELDS)

# Shared CTE prefix: parse (malformed -> all-null row, filtered exactly
# like json_envelope_parse's packet/type null check), composite-key
# dedup (identical re-broadcast lines, so any window winner is the same
# row), then the latest-wins dimension (seed + nodeinfo upserts —
# operators/enrich.py::dim_upsert_latest_wins ordering).
_RAW_CTE = f"""raw AS (
  SELECT * FROM read_json('{FIXTURE_PATH}', format='newline_delimited',
    ignore_errors=true,
    columns={{'from': 'BIGINT', 'id': 'BIGINT', 'type': 'VARCHAR',
              'timestamp': 'BIGINT', 'payload': '{_PAYLOAD_STRUCT}'}})
  WHERE type IS NOT NULL
)"""

_REPLAY_CTE = f"""
WITH {_RAW_CTE},
dedup AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY "from", id) AS _rn FROM raw
  ) WHERE _rn = 1 OR id IS NULL
),
dim AS (
  SELECT node, topic_id, longname FROM (
    SELECT node, topic_id, longname,
           row_number() OVER (
             PARTITION BY node
             ORDER BY updated_epoch DESC NULLS LAST, topic_id DESC NULLS LAST
           ) AS _rn
    FROM (
      SELECT * FROM (VALUES {_SEED_VALUES}) s(node, topic_id, longname),
                    (SELECT CAST(NULL AS BIGINT) AS updated_epoch)
      UNION ALL BY NAME
      SELECT "from" AS node, payload.id AS topic_id,
             payload.longname AS longname, "timestamp" AS updated_epoch
      FROM dedup WHERE type = 'nodeinfo'
    )
  ) WHERE _rn = 1
),
env AS (
  SELECT d."from" AS node, dim.topic_id, dim.longname,
         payload.temperature AS temperature,
         payload.relative_humidity AS humidity,
         payload.barometric_pressure AS pressure,
         payload.gas_resistance AS gas,
         payload.iaq AS iaq,
         d."timestamp" AS timestamp_node
  FROM dedup d LEFT JOIN dim ON d."from" = dim.node
  WHERE d.type = 'telemetry' AND payload.battery_level IS NULL
),
battery AS (
  SELECT d."from" AS node, dim.topic_id, dim.longname,
         payload.voltage AS voltage,
         payload.battery_level AS battery_level,
         d."timestamp" AS timestamp_node
  FROM dedup d LEFT JOIN dim ON d."from" = dim.node
  WHERE d.type = 'telemetry' AND payload.battery_level IS NOT NULL
),
v1 AS (
  SELECT node, topic_id, longname, {", ".join(V1_TEXT_FIELDS)}, timestamp_node
  FROM (
    SELECT d."from" AS node, dim.topic_id, dim.longname, {_V1_COLS},
           d."timestamp" AS timestamp_node
    FROM dedup d LEFT JOIN dim ON d."from" = dim.node
    WHERE d.type = 'text' AND payload.text IS NOT NULL
  ) WHERE {_V1_ALL_PRESENT}
)
"""


# --- declared queries --------------------------------------------------------


def replay_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-fact-table routed row/node counts after the full replay —
    the stream_route_multiplex contract in one compact result.
    ``sf_dir`` is unused: the input is the committed golden fixture."""
    parts = [
        _fact(spark, t).select(F.lit(t).alias("fact_table"), "node")
        for t in ("airwise_data", "battery_data", "airwise_datav1")
    ]
    u = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return u.groupBy("fact_table").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("node").alias("n_nodes"),
    )


REPLAY_ROUTE_COUNTS_SQL = (
    _REPLAY_CTE
    + """
SELECT fact_table, COUNT(*) AS n_rows, COUNT(DISTINCT node) AS n_nodes FROM (
  SELECT 'airwise_data' AS fact_table, node FROM env
  UNION ALL SELECT 'battery_data', node FROM battery
  UNION ALL SELECT 'airwise_datav1', node FROM v1
) GROUP BY fact_table
"""
)


def replay_env_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every v0 environment fact row the replay produced, with its
    enrichment: same-batch nodeinfo renames visible (dim upserts before
    facts — the reference's callback ordering), unknown nodes null."""
    return _fact(spark, "airwise_data").select(
        "node", "topic_id", "longname", "temperature", "humidity",
        "pressure", "gas", "iaq", "timestamp_node",
    )


REPLAY_ENV_ENRICHED_SQL = (
    _REPLAY_CTE
    + """
SELECT node, topic_id, longname, temperature, humidity, pressure, gas, iaq,
       timestamp_node
FROM env
"""
)


def replay_battery_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Battery-route fact rows (battery_level presence discriminator)."""
    return _fact(spark, "battery_data").select(
        "node", "topic_id", "longname", "voltage", "battery_level",
        "timestamp_node",
    )


REPLAY_BATTERY_ENRICHED_SQL = (
    _REPLAY_CTE
    + """
SELECT node, topic_id, longname, voltage, battery_level, timestamp_node
FROM battery
"""
)


def replay_v1_env(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v1 text-route fact rows: the 9-float CSV payload parse (all
    positions required; bad rows dropped whole) plus enrichment."""
    return _fact(spark, "airwise_datav1").select(
        "node", "topic_id", "longname", *V1_TEXT_FIELDS, "timestamp_node"
    )


REPLAY_V1_ENV_SQL = (
    _REPLAY_CTE
    + f"""
SELECT node, topic_id, longname, {", ".join(V1_TEXT_FIELDS)}, timestamp_node
FROM v1
"""
)


def replay_env_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-node hourly temperature rollup MAINTAINED BY THE INGEST
    PATH itself (process_packet_batch folds each micro-batch into the
    materialized continuous aggregate — streaming/rollup.py). The
    oracle recomputes the same aggregate from the raw replayed fixture,
    so a hash match proves the maintained table equals a full recompute
    after the replay."""
    from ..streaming.rollup import read_rollup

    roll = read_rollup(
        spark,
        os.path.join(_replayed_out_dir(spark), "airwise_hourly"),
        keys=["node"],
    )
    from .base import r

    return roll.select(
        "node",
        F.col("hour_ts").cast("long").alias("hour_epoch"),
        r("avg_value", 2).alias("avg_temp"),
        r("min_value", 2).alias("min_temp"),
        r("max_value", 2).alias("max_temp"),
        F.col("n").cast("long").alias("n"),
    )


REPLAY_ENV_HOURLY_ROLLUP_SQL = (
    _REPLAY_CTE
    + """
SELECT node, CAST((timestamp_node // 3600) * 3600 AS BIGINT) AS hour_epoch,
       CAST(ROUND(CAST(AVG(temperature) AS DECIMAL(38,9)), 2) AS DOUBLE) AS avg_temp,
       CAST(ROUND(CAST(MIN(temperature) AS DECIMAL(38,9)), 2) AS DOUBLE) AS min_temp,
       CAST(ROUND(CAST(MAX(temperature) AS DECIMAL(38,9)), 2) AS DOUBLE) AS max_temp,
       CAST(COUNT(temperature) AS BIGINT) AS n
FROM env GROUP BY 1, 2
"""
)


# --- late/duplicate-packet watermark replay -----------------------------------
#
# The cross-batch dedup path (streaming/ingest.py::run_ingest_stream with
# dropDuplicatesWithinWatermark) was previously pytest-only. This replay
# drives the REAL streaming query over four fixture files forced into
# four micro-batches (maxFilesPerTrigger=1, mtime-ordered), so the
# watermark advances between batches and every acceptance outcome of the
# operator's contract occurs, each observable in the output rows:
#   - in-batch and cross-batch duplicates of a LIVE (from, id) key are
#     dropped (batch b carries an exact re-broadcast of a batch-a row),
#   - a MODERATELY late packet (event time below the current watermark
#     but event time + delay still above it) is accepted (batch b) —
#     mirroring the reference's silent acceptance of stale packets
#     (AIRWISEv0.py:258) — while a TOO-late packet (event time + delay
#     at or below the watermark, i.e. one whose dedup window has fully
#     closed) would be dropped on input,
#   - a key reused with a FRESH timestamp after its state entry expired
#     (the watermark passed original event time + delay) is RE-accepted
#     (batch d re-delivers a batch-a key: Meshtastic ids are 32-bit
#     per-sender counters, so reboot/wrap reuse is real) — under
#     unbounded global dedup that row would be dropped, so this outcome
#     is what makes the watermark-bounded state OBSERVABLE in the
#     output; it is the documented at-least-once residual the 10-minute
#     DEDUP_WATERMARK trades for bounded state at 100 TB.
# The DuckDB twin re-implements that state machine in SQL: W_k = the
# watermark in effect during batch k = max(event ts of batches < k) -
# 600 s; a batch-N row is accepted iff (a) its event time + 600 > W_N
# (dedup window still open), (b) no LIVE prior entry holds its key — an
# entry accepted in batch M with event time ts is live for batch N > M
# iff ts + 600 > W_{N-1} (state cleanup runs at each batch END with the
# then-current watermark) — and (c) it is the first of its key within
# its own batch. A hash match therefore pins dedup keying, watermark
# advancement, AND eviction timing, not just final dedup.

_LATE_DIR = FIXTURE_DIR / "late_replay"
_LATE_FILES = (
    _LATE_DIR / "a.jsonl",
    _LATE_DIR / "b.jsonl",
    _LATE_DIR / "c.jsonl",
    _LATE_DIR / "d.jsonl",
)
_LATE_REPLAY_CACHE: dict[str, str] = {}


def _late_replayed_out_dir(spark: SparkSession) -> str:
    from ..streaming.ingest import IngestPaths, run_ingest_stream

    key = spark.sparkContext.applicationId
    out = _LATE_REPLAY_CACHE.get(key)
    if out is not None and os.path.isdir(os.path.join(out, "airwise_data")):
        return out
    landing = ephemeral_dir("late_landing_")
    out = ephemeral_dir("late_replay_")
    for i, src in enumerate(_LATE_FILES):
        dst = os.path.join(landing, src.name)
        shutil.copyfile(src, dst)
        # FileStreamSource picks oldest-mtime first: pin mtimes so file a
        # IS batch 0 and file b IS batch 1, deterministically.
        os.utime(dst, (1_000 + i * 1_000, 1_000 + i * 1_000))
    # The fixture is a few KB driven through 4 stateful micro-batches:
    # two state stores are plenty (the width is pinned into the query
    # at start; the caller's session keeps its own).
    q = run_ingest_stream(
        spark,
        IngestPaths(landing_dir=landing, out_dir=out),
        max_files_per_trigger=1,
        dedup_within_watermark=True,
        state_partitions=2,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    _LATE_REPLAY_CACHE[key] = out
    return out


def replay_late_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v0 env facts surviving the two-batch watermark/dedup replay.
    ``sf_dir`` is unused: input is the committed late_replay fixture."""
    out = _late_replayed_out_dir(spark)
    return spark.read.parquet(os.path.join(out, "airwise_data")).select(
        "node", "topic_id", "longname", "temperature", "humidity",
        "pressure", "gas", "iaq", "timestamp_node",
    )


_LATE_RAW_CTES = ",\n".join(
    f"""{chr(97 + i)}_raw AS (
  SELECT * FROM read_json('{p}', format='newline_delimited',
    ignore_errors=true,
    columns={{'from': 'BIGINT', 'id': 'BIGINT', 'type': 'VARCHAR',
              'timestamp': 'BIGINT', 'payload': '{_PAYLOAD_STRUCT}'}})
  WHERE type IS NOT NULL
)"""
    for i, p in enumerate(_LATE_FILES)
)

REPLAY_LATE_DEDUP_SQL = f"""
WITH {_LATE_RAW_CTES},
-- watermarks in effect during batches 1..3 (max prior event ts - delay)
w1 AS (SELECT max("timestamp") - 600 AS w FROM a_raw),
w2 AS (
  SELECT max(ts) - 600 AS w FROM (
    SELECT "timestamp" AS ts FROM a_raw UNION ALL
    SELECT "timestamp" FROM b_raw
  )
),
w3 AS (
  SELECT max(ts) - 600 AS w FROM (
    SELECT "timestamp" AS ts FROM a_raw UNION ALL
    SELECT "timestamp" FROM b_raw UNION ALL
    SELECT "timestamp" FROM c_raw
  )
),
-- batch 0: watermark -inf, empty state: in-batch dedup only
a_acc AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY "from", id) AS _rn FROM a_raw
  ) WHERE _rn = 1
),
-- batch 1: too-late filter vs W_1; state cleanup before this batch ran
-- with W_0 = -inf, so every a-key is live.
b_acc AS (
  SELECT * FROM (
    SELECT b.*, row_number() OVER (PARTITION BY "from", id) AS _rn
    FROM b_raw b, w1
    WHERE b."timestamp" + 600 > w1.w
      AND NOT EXISTS (
        SELECT 1 FROM a_acc p WHERE p."from" = b."from" AND p.id = b.id
      )
  ) WHERE _rn = 1
),
-- batch 2: too-late vs W_2; prior entries live iff they survived the
-- end-of-batch-1 cleanup (W_1)
c_acc AS (
  SELECT * FROM (
    SELECT c.*, row_number() OVER (PARTITION BY "from", id) AS _rn
    FROM c_raw c, w2
    WHERE c."timestamp" + 600 > w2.w
      AND NOT EXISTS (
        SELECT 1 FROM (
          SELECT "from", id, "timestamp" FROM a_acc
          UNION ALL SELECT "from", id, "timestamp" FROM b_acc
        ) p, w1
        WHERE p."from" = c."from" AND p.id = c.id
          AND p."timestamp" + 600 > w1.w
      )
  ) WHERE _rn = 1
),
-- batch 3: too-late vs W_3; prior entries live iff they survived the
-- end-of-batch-2 cleanup (W_2)
d_acc AS (
  SELECT * FROM (
    SELECT d.*, row_number() OVER (PARTITION BY "from", id) AS _rn
    FROM d_raw d, w3
    WHERE d."timestamp" + 600 > w3.w
      AND NOT EXISTS (
        SELECT 1 FROM (
          SELECT "from", id, "timestamp" FROM a_acc
          UNION ALL SELECT "from", id, "timestamp" FROM b_acc
          UNION ALL SELECT "from", id, "timestamp" FROM c_acc
        ) p, w2
        WHERE p."from" = d."from" AND p.id = d.id
          AND p."timestamp" + 600 > w2.w
      )
  ) WHERE _rn = 1
),
accepted AS (
  SELECT "from", id, type, "timestamp", payload FROM a_acc
  UNION ALL SELECT "from", id, type, "timestamp", payload FROM b_acc
  UNION ALL SELECT "from", id, type, "timestamp", payload FROM c_acc
  UNION ALL SELECT "from", id, type, "timestamp", payload FROM d_acc
),
dim AS (SELECT * FROM (VALUES {_SEED_VALUES}) s(node, topic_id, longname))
SELECT d."from" AS node, dim.topic_id, dim.longname,
       payload.temperature AS temperature,
       payload.relative_humidity AS humidity,
       payload.barometric_pressure AS pressure,
       payload.gas_resistance AS gas,
       payload.iaq AS iaq,
       d."timestamp" AS timestamp_node
FROM accepted d LEFT JOIN dim ON d."from" = dim.node
WHERE d.type = 'telemetry' AND payload.battery_level IS NULL
"""


# --- stream-stream interval join replay ---------------------------------------
#
# streaming/joins.py::run_env_battery_join_stream is a REAL watermarked
# stream-stream inner join (two file streams over the same landing dir,
# equi-key node + ±JOIN_BOUND_SECONDS event-time interval). The replay
# drives the fixture through that streaming query (all files in one
# micro-batch, so no watermark drop can occur and the inner-join output
# is the full deterministic match set); the DuckDB twin re-implements
# parse -> side-split -> interval join from the raw JSONL. Cross-batch
# join state (env arriving batches before its battery partner) is
# exercised in test_streaming.py with a two-file split of the same
# fixture asserting the identical result set.

_JOIN_REPLAY_CACHE: dict[str, str] = {}


def _join_replayed_out_dir(spark: SparkSession) -> str:
    from ..streaming.joins import run_env_battery_join_stream

    key = spark.sparkContext.applicationId
    out = _JOIN_REPLAY_CACHE.get(key)
    if out is not None and os.path.isdir(os.path.join(out, "env_battery_joined")):
        return out
    landing = ephemeral_dir("join_landing_")
    out = ephemeral_dir("join_replay_")
    shutil.copyfile(FIXTURE_PATH, os.path.join(landing, FIXTURE_PATH.name))
    # Tiny fixture through a stateful two-stream join: pin a small
    # shuffle width for the replay (see _late_replayed_out_dir).
    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        q = run_env_battery_join_stream(spark, landing, out)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    _JOIN_REPLAY_CACHE[key] = out
    return out


def replay_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Env↔battery matches produced by the watermarked stream-stream
    interval join replay. ``sf_dir`` is unused: input is the committed
    golden fixture."""
    out = _join_replayed_out_dir(spark)
    return spark.read.parquet(os.path.join(out, "env_battery_joined")).select(
        "node", "env_epoch", "bat_epoch", "lag_seconds",
        "temperature", "humidity", "voltage", "battery_level",
    )


REPLAY_STREAM_JOIN_SQL = (
    f"WITH {_RAW_CTE}"
    + """,
env_side AS (
  SELECT "from" AS node, "timestamp" AS env_epoch,
         payload.temperature AS temperature,
         payload.relative_humidity AS humidity
  FROM raw
  WHERE type = 'telemetry' AND payload.battery_level IS NULL
    AND "timestamp" IS NOT NULL
),
bat_side AS (
  SELECT "from" AS bat_node, "timestamp" AS bat_epoch,
         payload.voltage AS voltage, payload.battery_level AS battery_level
  FROM raw
  WHERE type = 'telemetry' AND payload.battery_level IS NOT NULL
    AND "timestamp" IS NOT NULL
)
SELECT node, env_epoch, bat_epoch,
       bat_epoch - env_epoch AS lag_seconds,
       temperature, humidity, voltage, battery_level
FROM env_side JOIN bat_side
  ON node = bat_node
 AND bat_epoch BETWEEN env_epoch - 600 AND env_epoch + 600
"""
)


def _dim_history_df(spark: SparkSession) -> DataFrame:
    """SCD2 history of the node dimension from the golden fixture's
    nodeinfo update log (seed fleet + in-stream renames), built through
    the engine parse path."""
    from ..operators.enrich import dim_history_scd2, seed_node_dim
    from ..operators.parse import extract_nodeinfo, json_envelope_parse
    from ..sources.landing import packet_batch_source

    parsed = json_envelope_parse(packet_batch_source(spark, str(FIXTURE_PATH)))
    upd = extract_nodeinfo(parsed).select(
        "node", "topic_id", "longname",
        # session tz is UTC-pinned, so this inverts epoch_to_timestamp
        # exactly (integer epoch seconds round-trip).
        F.unix_timestamp("updated_ts").alias("updated_epoch"),
    )
    seed = seed_node_dim(spark).select(
        "node", "topic_id", "longname",
        F.lit(None).cast("long").alias("updated_epoch"),
    )
    return dim_history_scd2(seed.unionByName(upd), ts_col="updated_epoch")


def replay_dim_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full SCD2 validity history of the node dimension from the golden
    replay's nodeinfo update log (seed fleet + in-stream renames): one
    row per (node, identity version) with ``[valid_from, valid_to)``
    epochs — the history the reference's dict overwrite
    (AIRWISEv0.py:253-254) forgets. ``sf_dir`` is unused: input is the
    committed golden fixture."""
    hist = _dim_history_df(spark)
    return hist.select(
        "node", "topic_id", "longname",
        F.col("valid_from").alias("valid_from_epoch"),
        F.col("valid_to").alias("valid_to_epoch"),
        "is_current",
    )


# SCD2 history CTE chain (DuckDB twin of operators/enrich.py::
# dim_history_scd2 over seed + nodeinfo updates) — shared by the
# history and the as-of-enrichment oracles.
_DIM_HIST_CTES = f"""upd AS (
  SELECT * FROM (VALUES {_SEED_VALUES}) s(node, topic_id, longname),
                (SELECT CAST(NULL AS BIGINT) AS updated_epoch)
  UNION ALL BY NAME
  SELECT "from" AS node, payload.id AS topic_id,
         payload.longname AS longname, "timestamp" AS updated_epoch
  FROM raw WHERE type = 'nodeinfo'
),
ordered AS (
  SELECT *, lag(ROW(topic_id, longname)) OVER (
      PARTITION BY node
      ORDER BY updated_epoch ASC NULLS FIRST, topic_id, longname
    ) AS prev
  FROM upd
),
changes AS (
  SELECT node, topic_id, longname, updated_epoch FROM ordered
  WHERE prev IS DISTINCT FROM ROW(topic_id, longname)
),
hist AS (
  SELECT node, topic_id, longname,
         updated_epoch AS valid_from_epoch,
         lead(updated_epoch) OVER (
           PARTITION BY node
           ORDER BY updated_epoch ASC NULLS FIRST, topic_id, longname
         ) AS valid_to_epoch
  FROM changes
)"""

REPLAY_DIM_HISTORY_SQL = (
    f"WITH {_RAW_CTE},\n{_DIM_HIST_CTES}"
    + """
SELECT node, topic_id, longname, valid_from_epoch, valid_to_epoch,
       (valid_to_epoch IS NULL) AS is_current
FROM hist
"""
)


def replay_env_asof_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v0 environment facts enriched with the longname their node had
    AT the packet's event time (SCD2 as-of join) — across the
    fixture's mid-stream rename this differs from the latest-wins
    enrichment the fact tables carry. ``sf_dir`` is unused: input is
    the committed golden fixture."""
    from ..operators.enrich import node_dim_enrich_asof

    facts = _fact(spark, "airwise_data").select(
        "node", "temperature", "timestamp_node"
    )
    hist = _dim_history_df(spark)
    return node_dim_enrich_asof(facts, hist, ts_col="timestamp_node").select(
        "node", "timestamp_node", "temperature",
        F.col("longname_at_event"),
    )


REPLAY_ENV_ASOF_NAMES_SQL = (
    _REPLAY_CTE
    + f""",
{_DIM_HIST_CTES}
SELECT e.node, e.timestamp_node, e.temperature,
       h.longname AS longname_at_event
FROM env e LEFT JOIN hist h
  ON e.node = h.node
 AND (h.valid_from_epoch IS NULL OR e.timestamp_node >= h.valid_from_epoch)
 AND (h.valid_to_epoch IS NULL OR e.timestamp_node < h.valid_to_epoch)
"""
)


# --- quarantine (dead-letter) routing of corrupt / unknown packets ------------


def replay_quarantine_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule violation counts from the quarantine table the replay
    writes for corrupt-JSON and unknown-type packets
    (streaming/ingest.py dead-letter path; the auditable replacement
    for the reference's silent drop, AIRWISEv0.py:112-114,155-157).
    The DuckDB twin re-derives both rules from the RAW fixture lines
    (json_valid + type extraction), so a hash match proves the DLQ
    captures exactly the right rows for exactly the right reasons.
    ``quarantined_at`` (wallclock) is excluded by construction."""
    out = _replayed_out_dir(spark)
    dlq = spark.read.json(os.path.join(out, "quarantine"))
    return (
        dlq.select(F.explode("violations").alias("violation"))
        .groupBy("violation")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


# in a SUBDIRECTORY: the golden replay uses fixtures/ itself as its
# landing dir, and packet_batch_source ingests every top-level *.jsonl
# — a quarantine-log fixture at the top level would leak 8 fake
# parseable_json rows into replay_quarantine_counts (caught by the r11
# sweep; subdirs like bridge/ and late_replay/ are not listed)
QUARANTINE_VIEW_FIXTURE = FIXTURE_DIR / "quarantine_view" / "quarantine_view.jsonl"


def replay_quarantine_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exactly-once reader view over the at-least-once quarantine
    log (streaming/ingest.py::quarantine_view), hash-pinned on a
    COMMITTED fixture that plants every delivery shape the view's
    max-row-count/earliest-tie rule must distinguish (r10 verdict #4 —
    the r9 complete-delivery rewrite previously had pytest evidence
    only):

    - epoch run1-7: a PARTIAL first delivery (1 of 2 ``corruptA`` rows
      at 10:00 — the v2-committer crash shape) then the complete
      replay at 10:05 (both rows, a legitimate in-batch duplicate,
      plus ``position``). The view must keep the 10:05 delivery — the
      old min(quarantined_at) rule would keep the partial prefix and
      undercount;
    - epoch run1-8: a complete delivery replayed identically (size
      tie) — the EARLIEST must win, visible in the output timestamp;
    - null-tag rows: ad-hoc batch callers pass through untouched,
      including their exact duplicates.

    ``quarantined_at`` is rendered as a wall-clock string (fixture
    timestamps are fixed, so it is deterministic here and pins WHICH
    delivery won); violations arrays are joined for engine-neutral
    hashing. The DuckDB twin re-derives the best-delivery choice with
    an independent dense_rank over per-delivery counts."""
    from ..streaming.ingest import quarantine_view

    view = quarantine_view(spark, str(QUARANTINE_VIEW_FIXTURE))
    return view.select(
        "raw",
        F.array_join("violations", "|").alias("violations"),
        F.date_format("quarantined_at", "yyyy-MM-dd HH:mm:ss").alias(
            "quarantined_at"
        ),
        "epoch_tag",
    )


REPLAY_QUARANTINE_VIEW_SQL = f"""
WITH q AS (
  SELECT * FROM read_json('{QUARANTINE_VIEW_FIXTURE}',
    format='newline_delimited',
    columns={{'raw': 'VARCHAR', 'violations': 'VARCHAR[]',
              'quarantined_at': 'TIMESTAMP', 'epoch_tag': 'VARCHAR'}})
),
sized AS (
  SELECT *, COUNT(*) OVER (
    PARTITION BY raw, epoch_tag, quarantined_at
  ) AS _n
  FROM q WHERE epoch_tag IS NOT NULL
),
ranked AS (
  SELECT *, dense_rank() OVER (
    PARTITION BY raw, epoch_tag
    ORDER BY _n DESC, quarantined_at ASC
  ) AS _r
  FROM sized
),
best AS (
  SELECT raw, violations, quarantined_at, epoch_tag FROM ranked WHERE _r = 1
  UNION ALL BY NAME
  SELECT raw, violations, quarantined_at, epoch_tag FROM q
  WHERE epoch_tag IS NULL
)
SELECT raw,
       array_to_string(violations, '|') AS violations,
       strftime(quarantined_at, '%Y-%m-%d %H:%M:%S') AS quarantined_at,
       epoch_tag
FROM best
"""


REPLAY_QUARANTINE_COUNTS_SQL = f"""
WITH lines AS (
  SELECT raw FROM read_csv('{FIXTURE_PATH}', header=false, delim='\t',
                           quote='', escape='',
                           columns={{'raw': 'VARCHAR'}})
  WHERE length(trim(raw)) > 0
),
checked AS (
  SELECT raw, json_valid(raw) AS is_json,
         CASE WHEN json_valid(raw)
              THEN json_extract_string(raw, '$.type') END AS t
  FROM lines
),
viol AS (
  SELECT 'parseable_json' AS violation FROM checked
  WHERE NOT (is_json AND t IS NOT NULL)
  UNION ALL
  SELECT 'known_packet_type' FROM checked
  WHERE is_json AND t IS NOT NULL
    AND t NOT IN ('telemetry', 'text', 'nodeinfo')
)
SELECT violation, CAST(COUNT(*) AS BIGINT) AS n FROM viol GROUP BY violation
"""


QUERIES: list[Query] = [
    Query("replay_quarantine_counts", replay_quarantine_counts,
          REPLAY_QUARANTINE_COUNTS_SQL,
          ("malformed_row_skip", "stream_route_multiplex"),
          "dead-letter quarantine counts per violated rule (DuckDB twin "
          "re-derives both rules from the raw fixture lines)"),
    Query("replay_quarantine_view", replay_quarantine_view,
          REPLAY_QUARANTINE_VIEW_SQL,
          ("malformed_row_skip", "stream_route_multiplex"),
          "exactly-once quarantine reader view on a planted "
          "partial-then-complete delivery fixture (max-count/"
          "earliest-tie pick, null-tag passthrough)"),
    Query("replay_route_counts", replay_route_counts, REPLAY_ROUTE_COUNTS_SQL,
          ("stream_route_multiplex", "packet_type_filter", "exact_dedup"),
          "golden-replay per-table routing counts"),
    Query("replay_env_enriched", replay_env_enriched, REPLAY_ENV_ENRICHED_SQL,
          ("stream_route_multiplex", "field_extraction", "node_dim_enrich",
           "dim_upsert_from_stream"),
          "golden-replay v0 env facts with same-batch dim upsert enrichment"),
    Query("replay_battery_enriched", replay_battery_enriched,
          REPLAY_BATTERY_ENRICHED_SQL,
          ("battery_presence_predicate", "field_extraction", "node_dim_enrich"),
          "golden-replay battery facts"),
    Query("replay_v1_env", replay_v1_env, REPLAY_V1_ENV_SQL,
          ("csv_text_payload_parse", "field_extraction", "node_dim_enrich",
           "malformed_row_skip"),
          "golden-replay v1 csv-payload facts"),
    Query("replay_env_hourly_rollup", replay_env_hourly_rollup,
          REPLAY_ENV_HOURLY_ROLLUP_SQL,
          ("stream_route_multiplex", "windowed_ingest", "per_node_stats"),
          "ingest-maintained continuous aggregate == full recompute "
          "over the replayed fixture"),
    Query("replay_late_dedup", replay_late_dedup, REPLAY_LATE_DEDUP_SQL,
          ("late_data_handling", "exact_dedup", "stream_route_multiplex"),
          "two-batch watermark replay: late drop + cross-batch (from,id) dedup"),
    Query("replay_stream_join", replay_stream_join, REPLAY_STREAM_JOIN_SQL,
          ("windowed_ingest", "late_data_handling", "timeseries_align"),
          "watermarked stream-stream interval join: env readings matched "
          "to same-node battery state within ±600 s"),
    Query("replay_dim_history", replay_dim_history, REPLAY_DIM_HISTORY_SQL,
          ("dim_upsert_from_stream", "node_dim_enrich"),
          "SCD2 node-dimension validity history (seed + nodeinfo renames; "
          "no-op re-announcements collapsed)"),
    Query("replay_env_asof_names", replay_env_asof_names,
          REPLAY_ENV_ASOF_NAMES_SQL,
          ("node_dim_enrich", "dim_upsert_from_stream", "timeseries_align"),
          "event-time-correct enrichment: env facts joined to the SCD2 "
          "history interval covering each packet's timestamp"),
]
