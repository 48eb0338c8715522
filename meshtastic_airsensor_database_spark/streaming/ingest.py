"""Streaming ingest pipeline (SURVEY.md §3.1 Spark lifecycle, §2.9).

One landing-dir stream -> parse once -> 4-way route -> three parquet
fact tables + node-dim upsert, all inside a single ``foreachBatch``
(`stream_route_multiplex`). The reference runs this as an MQTT callback
that re-parses each packet up to four times and opens a new DB
connection per message (AIRWISEv0v1comb.py:380-395, :243); here each
micro-batch is parsed once, cached, filtered four ways, and bulk-written.

Exactly-once posture: the file source checkpoint tracks consumed files,
and ``EpochLedger`` markers make replayed epochs a sink-side no-op
(restart after a crash re-delivers the last epoch; the ledger skips
it). The residual window — crash between sink write and marker create
— stays at-least-once for the FACT tables; packet-``id`` dedup
(`exact_dedup`, mesh re-broadcast produces dupes anyway — SURVEY
§2.11) absorbs it for downstream aggregation correctness. The hourly
ROLLUP cannot rely on that absorption (it is additive — re-folding a
replayed batch double-counts), so its maintenance is made idempotent
outright: every fold stamps the rewritten partitions with a
(run, epoch) tag and a replayed fold of the same epoch rewrites them
unchanged (``streaming/rollup.py::maintain_rollup`` ``epoch_tag``).
"""

from __future__ import annotations

import json as _json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..io_utils import publish_swap, recover_swap
from ..operators.enrich import dim_upsert_latest_wins, node_dim_enrich, seed_node_dim
from ..operators.parse import json_envelope_parse, route_packets
from ..schemas import NODE_DIM_SCHEMA
from ..sources.landing import packet_stream_source
from ..sources.sinks import parquet_table_sink

# Watermark for streaming dedup on packet id: mesh re-broadcast dupes
# arrive within seconds; 10 minutes is generous and keeps dedup state
# bounded (SURVEY §2.9 late_data_handling).
DEDUP_WATERMARK = "10 minutes"

# Per-sink-task row budget for micro-batch writes: a trickle batch
# coalesces to one task per sink instead of the session's shuffle width
# (task launch + file-commit overhead dominated the per-batch clock);
# a backfill-sized batch keeps up to the shuffle width.
_ROWS_PER_TASK = 250_000

# Per-query confs of the ingest stream: set on the session only around
# writer.start() (Structured Streaming clones the session there) and
# restored afterwards, so the caller's session never sees them. None
# is pinned in the offset metadata, so existing checkpoints pick them
# up on restart. Reasons and measurements: run_ingest_stream.
_CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_QUERY_CONFS = {
    # local checkpoints only (see _ingest_query_confs): the default
    # FileContext manager forks chmod/readlink per checkpoint file
    _CHECKPOINT_MANAGER: "org.apache.spark.sql.execution.streaming."
    "checkpointing.FileSystemBasedCheckpointFileManager",
    # the only stateful operator is the watermark dedup, whose no-data
    # batch emits nothing; the next data batch evicts instead
    "spark.sql.streaming.noDataMicroBatches.enabled": "false",
    # idle landing-dir listing every 100 ms instead of every 10 ms
    "spark.sql.streaming.pollingDelay": "100",
}


@dataclass
class IngestPaths:
    """Filesystem layout for one ingest deployment."""

    landing_dir: str
    out_dir: str

    @property
    def checkpoint_dir(self) -> str:
        return os.path.join(self.out_dir, "_checkpoint")

    @property
    def ledger_dir(self) -> str:
        # INSIDE the checkpoint dir on purpose: resetting the checkpoint
        # (the standard recovery step, which restarts batch ids at 0)
        # removes the ledger with it — stale markers can never mask new
        # epochs of a fresh run.
        return os.path.join(self.checkpoint_dir, "_epoch_ledger")

    def table(self, name: str) -> str:
        return os.path.join(self.out_dir, name)


class EpochLedger:
    """Committed-epoch markers making foreachBatch sinks idempotent
    under micro-batch replay (SURVEY §7.2 hard part (c)).

    After a crash between sink write and checkpoint commit, Structured
    Streaming re-delivers the same epoch id; consulting the ledger
    turns the re-delivery into a no-op instead of a duplicate append.
    Markers go through Hadoop's FileSystem API (same resolution as the
    checkpoint itself), so hdfs:// / s3a:// / file:// deployments all
    work; foreachBatch runs on the driver, so the single-writer marker
    create needs no cross-node atomicity. Only the latest epoch can be
    re-delivered, so ``commit`` prunes markers older than the previous
    epoch — the ledger directory stays O(1) size on long-running
    streams. The remaining window (crash between sink write and marker
    create) stays at-least-once; packet-id dedup absorbs it for the
    fact tables.
    """

    def __init__(self, spark: SparkSession, path: str):
        jvm = spark._jvm
        self._jpath = jvm.org.apache.hadoop.fs.Path(path)
        self._fs = self._jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        self._fs.mkdirs(self._jpath)
        self._hpath = jvm.org.apache.hadoop.fs.Path

    def _marker(self, epoch_id: int):
        return self._hpath(self._jpath, f"epoch-{epoch_id:020d}.done")

    def committed(self, epoch_id: int) -> bool:
        return bool(self._fs.exists(self._marker(epoch_id)))

    def run_tag(self) -> str:
        """Stable random id for THIS checkpoint lineage, minted once
        and persisted in the ledger dir (so it dies with a checkpoint
        reset, exactly like the epoch markers). Epoch ids restart at 0
        when a checkpoint is reset, so idempotence stamps derived from
        them (the rollup maintainer's ``epoch_tag``) must be scoped
        (run, epoch) — a bare epoch id could collide with a stale
        stamp left in the rollup table by a previous run. Name-encoded
        (``run-<hex>`` marker file) so no stream I/O is needed;
        ``commit``'s pruning only touches ``epoch-*`` files."""
        if getattr(self, "_run_tag", None) is None:
            tag = None
            for status in self._fs.listStatus(self._jpath):
                name = status.getPath().getName()
                if name.startswith("run-"):
                    tag = name[len("run-"):]
                    break
            if tag is None:
                import uuid

                tag = uuid.uuid4().hex[:16]
                self._fs.createNewFile(self._hpath(self._jpath, f"run-{tag}"))
            self._run_tag = tag
        return self._run_tag

    def commit(self, epoch_id: int) -> None:
        self._fs.createNewFile(self._marker(epoch_id))
        # prune dead markers (anything older than the previous epoch)
        for status in self._fs.listStatus(self._jpath):
            name = status.getPath().getName()
            if name.startswith("epoch-") and name.endswith(".done"):
                try:
                    old = int(name[len("epoch-"):-len(".done")])
                except ValueError:
                    continue
                if old < epoch_id - 1:
                    self._fs.delete(status.getPath(), False)


def idempotent_batch_processor(
    paths: IngestPaths,
    phase_clock: dict | None = None,
    input_deduped: bool = False,
):
    """The foreachBatch callable: skip epochs the ledger already has,
    commit the epoch after a successful write. ``phase_clock`` (a dict)
    accumulates per-phase wall seconds across batches for profiling.
    ``input_deduped``: the stream already deduped on [from, id]
    upstream (see process_packet_batch) — skip the in-batch dedup."""
    ledger: EpochLedger | None = None

    def on_batch(batch: DataFrame, epoch_id: int) -> None:
        nonlocal ledger
        if ledger is None:  # one construction per query, not per batch
            ledger = EpochLedger(batch.sparkSession, paths.ledger_dir)
        if ledger.committed(epoch_id):
            # Replayed epoch: the sinks already hold this data — but the
            # batch must still flow through the plan once. Stateful
            # operators upstream (dropDuplicatesWithinWatermark) commit
            # their state per partition per batch, and Spark validates
            # that every state partition committed; a bare early return
            # fails the RESTART itself with
            # STATE_STORE_COMMIT_VALIDATION_FAILED on the stateful
            # topology (caught by the r7 crash-recovery chaos test).
            # The noop sink evaluates all partitions with zero output.
            batch.write.mode("overwrite").format("noop").save()
            return
        process_packet_batch(
            batch,
            paths,
            with_counts=False,
            phase_clock=phase_clock,
            # (run, epoch)-scoped idempotence stamp for the rollup
            # maintainer: the crash window between the sinks below and
            # the ledger commit replays the epoch, and the stamp is
            # what keeps the re-fold from double-counting the batch in
            # the continuous aggregate (facts are absorbed by packet
            # dedup; an additive rollup needs this guard).
            epoch_tag=f"{ledger.run_tag()}:{epoch_id}",
            input_deduped=input_deduped,
        )
        ledger.commit(epoch_id)

    return on_batch


@contextmanager
def _phase(clock: dict | None, name: str):
    """Accumulate wall seconds per named phase into ``clock`` (no-op
    when clock is None — the hot path pays one ``if``)."""
    if clock is None:
        yield
        return
    t0 = time.perf_counter()
    try:
        yield
    finally:
        clock[name] = clock.get(name, 0.0) + (time.perf_counter() - t0)


# staging suffix, trash suffix, completion marker of the node-dim
# snapshot swap (io_utils.publish_swap); Spark writes the marker
_DIM_SWAP = ("._next", "._old", "_SUCCESS")


def _load_node_dim(spark: SparkSession, paths: IngestPaths) -> DataFrame:
    """Current dimension snapshot: persisted if present, else the static
    seed. Existence-checked (not exception-driven): the analyzer logs a
    noisy FileNotFound stack on every first batch otherwise.

    Self-healing: ``recover_swap`` first converges a crashed snapshot
    swap — the surviving complete copy (``._next`` if its write
    committed, else ``._old``) is promoted back to live before
    reading, so accumulated nodeinfo history is never silently reset to
    the seed by a mid-swap crash."""
    dim_path = paths.table("node_dim")
    if not recover_swap(dim_path, *_DIM_SWAP):
        return seed_node_dim(spark)
    try:
        return spark.read.schema(NODE_DIM_SCHEMA).parquet(dim_path)
    except Exception:
        return seed_node_dim(spark)


def process_packet_batch(
    batch: DataFrame,
    paths: IngestPaths,
    with_counts: bool = True,
    phase_clock: dict | None = None,
    plan_probe=None,
    epoch_tag: str | None = None,
    input_deduped: bool = False,
) -> dict[str, int]:
    """Route one (micro-)batch of raw packet lines to the fact tables.

    Pure batch logic — the identical function serves foreachBatch, tests,
    and bulk replay (SURVEY §7.0 batch-core/streaming-shell stance).
    Returns per-table appended row counts for observability. Counts ride
    the WRITE action via ``Observation`` (``df.observe`` attaches an
    aggregate to the existing job), so ``with_counts=True`` costs zero
    extra jobs; ``with_counts=False`` skips even the metric wiring —
    the streaming hot path, which discards counts, uses that.

    ``plan_probe`` (optional, tests only): called as ``(label, df)``
    with every DataFrame immediately before its action executes, so the
    structural plan audit (tests/test_plans.py walker) can inspect the
    REAL foreachBatch inner plans — the r7 audit covered only the 194
    batch-query plans and eyeballed these.

    ``epoch_tag`` (optional): (run, epoch)-scoped identity of this
    delivery, from the caller's EpochLedger. It makes the rollup fold
    idempotent under epoch replay (maintain_rollup's stamp guard) and
    stamps quarantine rows so at-least-once audit duplicates are
    identifiable. None (ad-hoc batch callers) keeps both untagged.

    ``input_deduped``: True when the caller's stream topology already
    deduplicated on the composite [from, id] key upstream
    (``dropDuplicatesWithinWatermark`` — it drops duplicates WITHIN a
    batch as well as across batches, on exactly this key with the same
    null-id passthrough), so the in-batch dedup here would be a no-op
    paying a full shuffle per micro-batch. Don't dedup twice.
    """
    spark = batch.sparkSession
    from ..operators.parse import PACKET_SCHEMA, RAW_COLUMN
    from ..operators.quality import split_by_rules

    # One envelope parse feeds the DLQ split AND the fact routes — the
    # cache below means the micro-batch's upstream plan (file scan +
    # watermarked dedup state) executes exactly ONCE per batch, however
    # many sink actions follow.
    enveloped = batch.withColumn(
        "packet", F.from_json(F.col(RAW_COLUMN), PACKET_SCHEMA)
    ).cache()
    rules = {
        "parseable_json": F.col("packet").isNotNull()
        & F.col("packet.type").isNotNull(),
        # corrupt rows fail only parseable_json, not this too
        "known_packet_type": F.col("packet.type").isNull()
        | F.col("packet.type").isin("telemetry", "text", "nodeinfo"),
    }
    counts: dict[str, int] = {}
    pool = None  # sink-thunk executor; drained in the outer finally
    pending: list = []
    try:
        # ONE stats job replaces every per-route isEmpty() probe (each
        # was a full job re-running the batch plan): it materializes
        # the cache and answers emptiness for all five routes at once.
        # Counts are PRE-dedup, which is exactly right for emptiness —
        # dedup keeps >=1 row per group, so zero-before == zero-after.
        telem = F.col("packet.type") == F.lit("telemetry")
        batt = F.col("packet.payload.battery_level").isNotNull()
        with _phase(phase_clock, "stats"):
            stats_df = enveloped.agg(
                F.count(F.lit(1)).alias("n"),
                F.count(
                    F.when(~(rules["parseable_json"] & rules["known_packet_type"]), 1)
                ).alias("n_dlq"),
                F.count(
                    F.when(F.col("packet.type") == F.lit("nodeinfo"), 1)
                ).alias("n_nodeinfo"),
                F.count(F.when(telem & batt, 1)).alias("n_battery"),
                F.count(F.when(telem & ~batt, 1)).alias("n_v0"),
                F.count(
                    F.when(F.col("packet.type") == F.lit("text"), 1)
                ).alias("n_v1"),
                # distinct v0 event DATES, for the rollup maintainer's
                # partition pruning — riding the same job keeps the
                # whole rollup maintenance at two jobs (collect_set
                # skips nulls; a null event_ts contributes no prunable
                # partition). Bounded by the batch's event-time spread.
                F.collect_set(
                    F.when(
                        telem & ~batt,
                        F.to_date(F.timestamp_seconds(F.col("packet.timestamp"))),
                    )
                ).alias("v0_dates"),
                # id-claiming rows with NO event time: they bypassed
                # any upstream watermark dedup (which keys on event
                # time), so the in-batch dedup below must still cover
                # them even when input_deduped — counted here so the
                # common all-timestamped batch skips that shuffle.
                F.count(
                    F.when(
                        F.col("packet.id").isNotNull()
                        & F.col("packet.timestamp").isNull(),
                        1,
                    )
                ).alias("n_id_no_ts"),
            )
            if plan_probe is not None:
                plan_probe("stats", stats_df)
            stats = stats_df.collect()[0]
        route_rows = {
            "battery": stats["n_battery"],
            "v0_env": stats["n_v0"],
            "v1_env": stats["n_v1"],
        }

        # Size every downstream job to the batch, not to the session's
        # shuffle width: a trickle micro-batch coalesces to ONE task
        # (and one output file) per sink, while a backfill-sized batch
        # keeps enough partitions to stay parallel (ceiling = the
        # session's shuffle width, so a 2000-partition cluster backfill
        # is not capped at local-mode sizes). Coalesce only ever
        # narrows, so large batches are untouched.
        try:
            shuffle_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):
            shuffle_width = spark.sparkContext.defaultParallelism

        def _width(n_rows: int) -> int:
            return max(1, min(shuffle_width, -(-int(n_rows) // _ROWS_PER_TASK)))

        # Mesh re-broadcast + MQTT at-least-once => dedup inside the
        # batch (cross-batch dedup is the watermark variant below). Key
        # is the COMPOSITE [packet.from, packet.id]: Meshtastic packet
        # ids are 32-bit per-sender counters, so distinct nodes
        # legitimately reuse the same id — keying on id alone silently
        # drops the second node's packet. Re-broadcast dupes share both
        # sender and id. dropDuplicates needs top-level columns; null
        # ids stay undeduped (no id claim means no duplicate claim).
        # When the stream topology already deduped on this key upstream
        # (input_deduped), the shuffle here would be a per-batch no-op
        # — EXCEPT for id-claiming rows with no event time, which
        # bypass the watermark operator (it keys on event time): those
        # still dedup here, and the stats row lets the common
        # all-timestamped batch skip even that.
        parsed = enveloped.filter(rules["parseable_json"])
        dedup_scope = F.col("_pkt_id").isNotNull()
        if input_deduped:
            dedup_scope = dedup_scope & F.col("packet.timestamp").isNull()
        if not input_deduped or stats["n_id_no_ts"] > 0:
            parsed = parsed.withColumn(
                "_pkt_id", F.col("packet.id")
            ).withColumn("_pkt_from", F.col("packet.from"))
            in_scope = parsed.filter(dedup_scope).dropDuplicates(
                ["_pkt_from", "_pkt_id"]
            )
            if input_deduped:
                # A ts-null duplicate can also shadow a TIMESTAMPED copy
                # of the same [from, id] in this batch — a pair the old
                # unconditional in-batch dedup collapsed but the
                # watermark operator never saw (the ts-null copy bypasses
                # it). Anti-join the ts-null survivors against the
                # batch's ts-present keys so the timestamped copy wins
                # (r8 ADVICE). Only paid when n_id_no_ts > 0; the
                # cross-BATCH variant of this pair (ts-null copy in a
                # later batch) remains the documented at-least-once
                # residual, absorbed like every other late duplicate.
                ts_present = parsed.filter(
                    F.col("_pkt_id").isNotNull()
                    & F.col("packet.timestamp").isNotNull()
                ).select("_pkt_from", "_pkt_id")
                in_scope = in_scope.join(
                    ts_present, ["_pkt_from", "_pkt_id"], "left_anti"
                )
            parsed = in_scope.unionByName(
                parsed.filter(~dedup_scope | F.col("_pkt_id").isNull())
            ).drop("_pkt_id", "_pkt_from")
        # cache post-dedup (any shuffle runs once) at batch-sized width
        parsed = parsed.coalesce(_width(stats["n"])).cache()

        # Dead-letter quarantine: the reference logs-and-drops corrupt
        # JSON and unknown packet types (AIRWISEv0.py:112-114,155-157);
        # route them to an auditable quarantine table instead, tagged
        # with the violated rule — skipped without a probe job when the
        # stats row says the batch is clean. Deferred into the parallel
        # sink pool below: it shares no state with the fact routes.
        dlq_thunk = None
        if stats["n_dlq"] > 0:
            _, dlq = split_by_rules(enveloped, rules)
            dlq_out = dlq.coalesce(_width(stats["n_dlq"])).select(
                F.col(RAW_COLUMN).alias("raw"),
                "violations",
                F.current_timestamp().alias("quarantined_at"),
                # replay forensics: the quarantine is an append-only
                # audit log, so the at-least-once window duplicates its
                # rows on epoch replay — the stamp makes those exactly
                # identifiable (dedup on (raw, epoch_tag) recovers the
                # exactly-once view; facts get this from packet ids,
                # an audit log of CORRUPT rows has no id to key on)
                F.lit(epoch_tag).cast("string").alias("epoch_tag"),
            )
            obs_dlq = None
            if with_counts:
                from pyspark.sql import Observation

                obs_dlq = Observation("ingest_quarantine")
                dlq_out = dlq_out.observe(
                    obs_dlq, F.count(F.lit(1)).alias("n")
                )
            if plan_probe is not None:
                plan_probe("dlq_write", dlq_out)

            def dlq_thunk(dlq_out=dlq_out, obs_dlq=obs_dlq):
                with _phase(phase_clock, "dlq_write"):
                    dlq_out.write.mode("append").json(paths.table("quarantine"))
                if obs_dlq is not None:
                    counts["quarantine"] = obs_dlq.get["n"]

        routed = route_packets(parsed)

        # Sink concurrency: the quarantine write, the rollup
        # maintenance and the dim snapshot stage are mutually
        # independent, and the three fact writes are independent of
        # each other once the dim is promoted — so the driver overlaps
        # their JOBS (Spark schedules concurrent jobs fine; local[n]
        # and a real cluster both overlap the per-job fixed costs that
        # dominate a trickle batch). The ordering that matters is
        # preserved in the submission structure itself: dim promote
        # happens-before every enrich build. With a plan_probe (test
        # hook) everything runs serially so probe capture is
        # deterministic.
        from concurrent.futures import ThreadPoolExecutor

        if plan_probe is None:
            pool = ThreadPoolExecutor(max_workers=5)

        # Jobs submitted from pool threads don't inherit this (driver)
        # thread's job group / scheduling properties — without
        # propagation, query.stop() mid-batch can't cancel in-flight
        # pooled sink jobs and they lose UI attribution (r8 ADVICE).
        # Capture them here and replay onto each worker thread; the pool
        # is per-batch, so nothing leaks across batches.
        _sc = spark.sparkContext
        _job_props = {
            k: _sc.getLocalProperty(k)
            for k in (
                "spark.jobGroup.id",
                "spark.job.description",
                "spark.job.interruptOnCancel",
                "spark.scheduler.pool",
            )
        }

        def _run(thunk):
            if pool is None:
                thunk()
                return

            def _with_job_props():
                for k, v in _job_props.items():
                    if v is not None:
                        _sc.setLocalProperty(k, v)
                thunk()

            pending.append(pool.submit(_with_job_props))

        if dlq_thunk is not None:
            _run(dlq_thunk)

        # Rollup maintenance kicks off BEFORE the dim phase: its input
        # (node, event_ts, temperature) comes entirely from the packet
        # envelope — none of it is dim-derived (the enrich join only
        # ADDS dim columns, and the latest-wins dim has one row per
        # node, so enriched facts are row-for-row the routed slice) —
        # and it reads the v0 PLAN from the parsed cache, not the
        # written fact files. Overlapping it with the dim stage takes
        # the whole dim phase off the rollup's critical path.
        if route_rows["v0_env"] > 0:
            from .rollup import maintain_rollup

            def rollup_thunk(n_rows=route_rows["v0_env"]):
                with _phase(phase_clock, "rollup"):
                    maintain_rollup(
                        routed["v0_env"].select(
                            "node", "event_ts", "temperature"
                        ),
                        paths.table("airwise_hourly"),
                        keys=["node"],
                        ts_col="event_ts",
                        value_col="temperature",
                        # partial rows <= this route's fact rows
                        width=_width(n_rows),
                        plan_probe=plan_probe,
                        # already known from the stats job — the
                        # maintainer skips its partials checkpoint
                        affected_dates=list(stats["v0_dates"]),
                        # replay-idempotence stamp (see caller)
                        epoch_tag=epoch_tag,
                    )

            _run(rollup_thunk)

        # Dimension first, so facts in the same batch see their own
        # nodeinfo updates — matches the reference's callback ordering
        # (map_nodes runs before the parsers, AIRWISEv0v1comb.py:389-395).
        with _phase(phase_clock, "dim_load"):
            dim = _load_node_dim(spark, paths)
        updates = routed["nodeinfo"]
        if stats["n_nodeinfo"] > 0:
            # ONE job for the whole upsert: the upsert plan reads the
            # OLD live snapshot and writes the staging ``._next`` dir —
            # distinct paths, so no self-overwrite hazard and no
            # lineage-pinning localCheckpoint needed (that extra job
            # used to cost ~0.2s/batch). The nodeinfo count rides the
            # write action as an observed metric. coalesce(1): the
            # dimension is fleet-sized (it is broadcast on the enrich
            # side) — one task, one file.
            obs_nodeinfo = None
            if with_counts:
                from pyspark.sql import Observation

                obs_nodeinfo = Observation("ingest_nodeinfo")
                updates = updates.observe(
                    obs_nodeinfo, F.count(F.lit(1)).alias("n")
                )
            # Stage-then-swap: an in-place overwrite would DELETE the
            # live dir before the new files commit — a crash in that
            # window would destroy the snapshot and silently reset the
            # dimension to the seed. Write to ._next, then swap it in
            # with two renames (io_utils.publish_swap); every crash
            # window leaves a complete copy that _load_node_dim
            # self-heals from.
            with _phase(phase_clock, "dim_upsert"):
                staged = dim_upsert_latest_wins(dim, updates).coalesce(1)
                if plan_probe is not None:
                    plan_probe("dim_upsert", staged)
                staged.write.mode("overwrite").parquet(
                    paths.table("node_dim") + _DIM_SWAP[0]
                )
            if obs_nodeinfo is not None:
                counts["nodeinfo"] = obs_nodeinfo.get["n"]
            with _phase(phase_clock, "dim_write"):
                publish_swap(paths.table("node_dim"), *_DIM_SWAP)
                # facts in this batch enrich against the batch's own
                # nodeinfo (the reference's callback ordering): re-read
                # the freshly promoted snapshot — its files outlive the
                # batch, so downstream broadcast lineage stays valid.
                dim = spark.read.schema(NODE_DIM_SCHEMA).parquet(
                    paths.table("node_dim")
                )

        for slice_name, table in (
            ("battery", "battery_data"),
            ("v0_env", "airwise_data"),
            ("v1_env", "airwise_datav1"),
        ):
            if route_rows[slice_name] == 0:
                # nothing on this route this batch: no write job, no
                # rollup maintenance (an empty partitioned write emits
                # no data files anyway — skipping changes no on-disk
                # state, only removes the job)
                if with_counts:
                    counts[table] = 0
                continue
            facts = node_dim_enrich(routed[slice_name], dim)
            # partition by event date: prunable, low-cardinality (SURVEY §4.2)
            facts = facts.withColumn("event_date", F.to_date("event_ts"))
            obs = None
            if with_counts:
                # observe() rides the write job below — the count is a
                # metric of the SAME action, not a second computation
                from pyspark.sql import Observation

                obs = Observation(f"ingest_{table}")
                facts = facts.observe(obs, F.count(F.lit(1)).alias("n"))
            if plan_probe is not None:
                plan_probe(f"facts_{table}", facts)

            def route_thunk(table=table, facts=facts, obs=obs):
                with _phase(phase_clock, f"facts_{table}"):
                    parquet_table_sink(
                        facts, paths.table(table), partition_by=("event_date",)
                    )
                if obs is not None:
                    counts[table] = obs.get["n"]

            _run(route_thunk)

        for fut in pending:
            fut.result()  # re-raise the first sink failure
        return counts
    finally:
        # Drain sink threads FIRST (even when a plan build raised and
        # the result loop above never ran) so no job still races the
        # unpersists below; on that failure path the original exception
        # propagates and the batch replays.
        if pool is not None:
            pool.shutdown(wait=True)
        try:
            parsed.unpersist()
        except NameError:
            pass  # stats job failed before the routed cache existed
        enveloped.unpersist()


def _checkpoint_pinned_shuffle_partitions(
    spark: SparkSession, checkpoint_dir: str
) -> int | None:
    """The ``spark.sql.shuffle.partitions`` value PINNED by an existing
    checkpoint, or None for a fresh checkpoint. Structured Streaming
    records the value in every offset-log entry's metadata and silently
    reuses it on restart, ignoring the session conf — so a caller who
    restarts a checkpoint with a different ``state_partitions`` must be
    told which value actually applies (r8 verdict #5). Reads the latest
    offset file (line 2 is the metadata JSON); any parse surprise
    returns None rather than blocking a legitimate restart."""
    import json as _json

    offsets = os.path.join(checkpoint_dir, "offsets")
    try:
        if "://" not in checkpoint_dir:
            if not os.path.isdir(offsets):
                return None
            batches = [n for n in os.listdir(offsets) if n.isdigit()]
            if not batches:
                return None
            latest = os.path.join(offsets, max(batches, key=int))
            with open(latest, encoding="utf-8") as fh:
                lines = fh.read().splitlines()
        else:
            jvm = spark.sparkContext._jvm
            conf = spark.sparkContext._jsc.hadoopConfiguration()
            jpath = jvm.org.apache.hadoop.fs.Path(offsets)
            fs = jpath.getFileSystem(conf)
            if not fs.exists(jpath):
                return None
            batches = [
                s.getPath()
                for s in fs.listStatus(jpath)
                if s.getPath().getName().isdigit()
            ]
            if not batches:
                return None
            latest = max(batches, key=lambda p: int(p.getName()))
            stream = fs.open(latest)
            try:
                reader = jvm.java.io.BufferedReader(
                    jvm.java.io.InputStreamReader(stream, "UTF-8")
                )
                lines = []
                while True:
                    line = reader.readLine()
                    if line is None:
                        break
                    lines.append(line)
            finally:
                stream.close()
        # format: "v1" / metadata JSON / per-source offsets
        meta = _json.loads(lines[1])
        return int(meta["conf"]["spark.sql.shuffle.partitions"])
    except Exception:
        return None


def _other_landing_consumers(landing_dir: str, own_checkpoint: str) -> list[str]:
    """Best-effort scan for OTHER streaming checkpoints consuming
    ``landing_dir`` (the single-consumer guard for landing-file
    retirement, r9 verdict #7).

    A FileStreamSource checkpoint logs every consumed file under
    ``<ckpt>/sources/<i>/<batch>`` as JSON entries with a ``path``
    key. The default deploy stack (deploy/compose.yaml) puts the
    monitor's checkpoint next to the landing dir, so scanning one
    level under the landing dir's parent (and the out dir's parent)
    finds it. Local/NFS paths only — remote URIs and checkpoints that
    have not yet logged a batch are invisible; the compose comment and
    CLI help remain the contract, this guard just catches the default
    layout before retirement starves the second consumer.
    """
    landing_norm = os.path.normpath(os.path.abspath(landing_dir))
    own_norm = os.path.normpath(os.path.abspath(own_checkpoint))
    roots = {
        os.path.dirname(landing_norm),
        os.path.dirname(os.path.dirname(own_norm)),
    }
    found: list[str] = []
    for root in roots:
        try:
            entries = sorted(os.listdir(root))
        except OSError:
            continue
        for name in entries:
            ckpt = os.path.join(root, name)
            if os.path.normpath(ckpt) == own_norm:
                continue
            sources = os.path.join(ckpt, "sources")
            if not os.path.isdir(sources):
                continue
            if _checkpoint_reads_landing(sources, landing_norm):
                found.append(ckpt)
    return found


def _checkpoint_reads_landing(sources_dir: str, landing_norm: str) -> bool:
    try:
        source_ids = os.listdir(sources_dir)
    except OSError:
        return False
    for sid in source_ids:
        sdir = os.path.join(sources_dir, sid)
        try:
            batches = [b for b in os.listdir(sdir) if b.isdigit()]
        except OSError:
            continue
        # the first logged batch is enough: a source never changes path
        for b in sorted(batches, key=int)[:1]:
            try:
                with open(os.path.join(sdir, b), encoding="utf-8") as fh:
                    for line in fh:
                        line = line.strip()
                        if not line.startswith("{"):
                            continue
                        try:
                            entry = _json.loads(line)
                        except ValueError:
                            continue
                        p = str(entry.get("path", ""))
                        if p.startswith("file:"):
                            p = p[len("file:"):]
                            while p.startswith("//"):
                                p = p[1:]
                        if os.path.normpath(p).startswith(
                            landing_norm + os.sep
                        ):
                            return True
            except OSError:
                continue
    return False


QUARANTINE_SCHEMA = (
    "raw string, violations array<string>, "
    "quarantined_at timestamp, epoch_tag string"
)


def quarantine_view(spark: SparkSession, path: str) -> DataFrame:
    """Exactly-once reader view over the at-least-once quarantine log.

    The quarantine is an append-only audit of corrupt/unknown packets;
    a crash between its write and the epoch-ledger commit replays the
    epoch and appends the same rows again (documented residual —
    corrupt rows have no packet id for the fact-style dedup to key on).
    Every streamed row is stamped with its delivery's (run, epoch)
    ``epoch_tag``, which makes the duplicates exactly identifiable:
    all rows of one delivery share one ``quarantined_at`` (Spark
    evaluates current_timestamp once per write), so this view keeps
    exactly ONE delivery per (raw, epoch_tag) group — a replayed
    epoch's second append vanishes, while identical corrupt lines
    WITHIN one batch (legitimately distinct events) all survive. Rows
    with a null tag (ad-hoc batch callers, which never replay epochs)
    pass through untouched. A plain ``dropDuplicates`` on the tag pair
    would silently collapse those legitimate in-batch duplicates.

    Which delivery wins: the one with the MOST rows, earliest-timestamp
    on ties — not simply the earliest. With a per-task-publishing file
    committer (mapreduce.fileoutputcommitter.algorithm.version=2), a
    crash mid-append can leave a PARTIAL first delivery; keying on
    min(quarantined_at) would let that partial prefix suppress the
    complete replay's rows and silently undercount (r9 ADVICE). The
    complete delivery always has >= rows of any partial one, and
    equally-sized deliveries carry identical content, so max-count is
    the exactly-once choice under both committer versions.
    """
    from pyspark.sql import Window

    log = spark.read.schema(QUARANTINE_SCHEMA).json(path)
    # ONE shuffle for both windows: pre-partition on the group key —
    # hashpartitioning(raw, epoch_tag) satisfies the per-delivery
    # window's wider (raw, epoch_tag, quarantined_at) clustering too,
    # so neither window adds an exchange (asserted in
    # test_quarantine_view_single_shuffle)
    tagged = log.filter(F.col("epoch_tag").isNotNull()).repartition(
        "raw", "epoch_tag"
    )
    w = Window.partitionBy("raw", "epoch_tag")
    dw = Window.partitionBy("raw", "epoch_tag", "quarantined_at")
    # min(struct(-count, ts)) = largest delivery, earliest on ties
    scored = tagged.withColumn(
        "_k",
        F.struct(
            (-F.count(F.lit(1)).over(dw)).alias("neg_n"),
            F.col("quarantined_at").alias("ts"),
        ),
    )
    best_delivery = (
        scored.withColumn("_best", F.min("_k").over(w))
        .filter(F.col("_k") == F.col("_best"))
        .drop("_k", "_best")
    )
    return best_delivery.unionByName(
        log.filter(F.col("epoch_tag").isNull())
    )


def run_ingest_stream(
    spark: SparkSession,
    paths: IngestPaths,
    trigger_seconds: int | None = None,
    max_files_per_trigger: int | None = None,
    dedup_within_watermark: bool = False,
    phase_clock: dict | None = None,
    batch_processor=None,
    state_partitions: int | None = 8,
    clean_source: str | None = None,
    source_archive_dir: str | None = None,
) -> StreamingQuery:
    """Start the ingest streaming query (M3).

    ``clean_source`` / ``source_archive_dir`` retire processed landing
    files ('archive' | 'delete' — see packet_stream_source): the
    production knob that keeps the landing dir, and with it the
    per-trigger listing cost, bounded by the UNPROCESSED backlog
    instead of growing with deployment age. SINGLE-CONSUMER: retirement
    tracks THIS query's progress, so any other stream of the same
    landing dir (e.g. the offline monitor in the default deploy stack)
    would silently lose files retired before it processed them — leave
    it off when the landing dir has multiple consumers. At start,
    a best-effort on-disk scan (``_other_landing_consumers``) looks
    for foreign file-stream checkpoints that consume this landing dir
    and warns loudly (RuntimeWarning) naming them — it catches the
    default deploy layout; it is not a distributed lock.

    ``dedup_within_watermark`` switches on cross-batch packet-id dedup
    via ``dropDuplicatesWithinWatermark`` upstream of foreachBatch
    (bounded state; needs event-time on the raw line, so we parse the
    envelope in-stream for the timestamp and carry the raw line along).
    ``batch_processor`` overrides the default ledgered foreachBatch
    body (chaos tests inject crash points with it); restarts must keep
    the same topology flags, the processor is free to differ.

    ``state_partitions`` sizes ``spark.sql.shuffle.partitions`` FOR
    THIS QUERY (Structured Streaming clones the session at start, so
    the setting is pinned into the query — and its checkpoint — without
    touching the caller's session): it is the number of state-store
    instances the watermark dedup maintains AND the width of every
    in-batch shuffle. Per batch, every state store pays a fixed
    open/commit/delta-file cost whether or not it holds rows, so the
    right size tracks the INGEST RATE, not the cluster: the default 8
    is generous for a sensor-fleet trickle (the reference deployment
    is ~0.007 msg/s; profiled here, 32 idle stores cost ~0.4s/batch —
    the single biggest slice of the micro-batch floor). A bulk
    backfill through the stream should pass a cluster-sized value —
    the knob exists precisely because one number cannot serve both.
    NOTE: pinned by the FIRST run's checkpoint; restarts ignore a
    changed value (Spark reads it back from checkpoint metadata). A
    restart that requests a DIFFERENT value than the checkpoint pins
    warns loudly (RuntimeWarning) naming the value that actually
    applies — changing state width requires a fresh checkpoint.

    The query also runs with its own ``_QUERY_CONFS``, set only around
    ``start()`` like the shuffle width and then restored (a key the
    caller had unset is unset again). Each cuts a fixed per-trigger
    cost of a slow trickle. On 4 cores, one 100-packet file every 5 s
    with watermark dedup uses a median 3.37 s of CPU per file with
    them and 5.15 s without (10 alternating runs each, lower in all 10):

    - ``checkpointFileManagerClass`` = FileSystem-based, for a local
      checkpoint only. Without Hadoop's native library, Spark's default
      FileContext manager forks a ``chmod``/``readlink`` process for
      every checkpoint file it creates and every rename: the offset
      and commit log entries and each state store's delta file. The
      dedup state commit takes ~55 ms with this manager, ~730 ms
      without. Checkpoint checksums stay on.
    - ``noDataMicroBatches.enabled`` = false. The only stateful
      operator is the watermark dedup; its no-data batch would emit
      nothing and only evict state, yet pay every state-store commit,
      the stats job and a ledger commit. The next data batch evicts
      under the same watermark, after its own lookups, and the
      late-row filter is unchanged: a trickle runs as files queued back
      to back do (a backfill; the ``replay_late_dedup`` oracle pins
      that behaviour). Mesh re-broadcasts, which repeat their event
      time, are dropped either way. The one difference: a packet id
      reused with a fresh event time, arriving in the data batch right
      after its entry expired, is dropped as a duplicate instead of
      re-accepted. Set per query, never session-wide: windowed
      aggregations need their no-data batches to emit.
    - ``pollingDelay`` = 100 ms instead of Spark's 10 ms between
      listings of an idle landing dir. On top of the other two it
      saves CPU (3.32 s per file instead of 3.96 s) and costs latency:
      a file waits up to 100 ms more for its trigger, and the median
      due-to-commit latency was ~2.22 s instead of ~1.98 s in the same
      runs.

    The first two overlap: most of a no-data batch's cost is its state
    commit. Forked-process CPU (``tools/profile_stream_batch.py``) is
    ~0.25 s per trigger with these confs, all of it lake writes, and
    ~0.55 s per data trigger plus ~0.35 s per no-data trigger without.
    """
    if clean_source:
        others = _other_landing_consumers(
            paths.landing_dir, paths.checkpoint_dir
        )
        if others:
            import warnings

            warnings.warn(
                f"clean_source={clean_source!r} retires landing files as "
                f"THIS query processes them, but other streaming "
                f"checkpoint(s) consume the same landing dir "
                f"{paths.landing_dir}: {others}. Files retired before "
                "those consumers read them are silently lost to them — "
                "disable retirement, or point each consumer at its own "
                "copy (deploy/compose.yaml documents the constraint).",
                RuntimeWarning,
                stacklevel=2,
            )
    if state_partitions is not None:
        pinned = _checkpoint_pinned_shuffle_partitions(
            spark, paths.checkpoint_dir
        )
        if pinned is not None and pinned != int(state_partitions):
            import warnings

            warnings.warn(
                f"state_partitions={state_partitions} requested, but the "
                f"checkpoint at {paths.checkpoint_dir} pins "
                f"spark.sql.shuffle.partitions={pinned}; the restarted "
                f"query will run with {pinned} state stores. Changing "
                "state width requires a fresh checkpoint (reset the "
                "checkpoint dir, replaying unprocessed landing files).",
                RuntimeWarning,
                stacklevel=2,
            )
    writer = _ingest_writer(
        spark, paths, trigger_seconds, max_files_per_trigger,
        dedup_within_watermark, phase_clock, batch_processor,
        clean_source, source_archive_dir,
    )
    # start() clones the session, pinning the confs into the query;
    # the caller's session gets its own values back
    with _session_confs(
        spark, _ingest_query_confs(spark, paths.checkpoint_dir, state_partitions)
    ):
        return writer.start()


def _ingest_query_confs(
    spark: SparkSession, checkpoint_dir: str, state_partitions: int | None
) -> dict[str, str]:
    """The per-query confs for a checkpoint at ``checkpoint_dir``.
    The FileSystem-based checkpoint manager is chosen only when the
    checkpoint is on the local filesystem (a scheme-less path lives on
    ``fs.defaultFS``): there a rename is POSIX rename(2), and the
    query is the checkpoint's single writer. Remote checkpoints keep
    Spark's default manager."""
    confs = dict(_QUERY_CONFS)
    default_fs = spark.sparkContext._jsc.hadoopConfiguration().get(
        "fs.defaultFS", "file:///"
    )
    if (urlsplit(checkpoint_dir).scheme or urlsplit(default_fs).scheme) != "file":
        del confs[_CHECKPOINT_MANAGER]
    if state_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(state_partitions)
    return confs


@contextmanager
def _session_confs(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` on the session for the block, then put back the
    caller's values: a key the caller had set gets its value again, an
    unset key is unset again, also when the block raises."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _ingest_writer(
    spark: SparkSession,
    paths: IngestPaths,
    trigger_seconds: int | None,
    max_files_per_trigger: int | None,
    dedup_within_watermark: bool,
    phase_clock: dict | None,
    batch_processor,
    clean_source: str | None = None,
    source_archive_dir: str | None = None,
) -> DataStreamWriter:
    raw = packet_stream_source(
        spark, paths.landing_dir, max_files_per_trigger,
        clean_source=clean_source, source_archive_dir=source_archive_dir,
    )

    stream: DataFrame = raw
    if dedup_within_watermark:
        parsed = json_envelope_parse(raw).withColumn(
            "event_ts", F.timestamp_seconds(F.col("packet.timestamp"))
        # dedup subset must be top-level columns; surface the nested
        # composite key (per-sender ids: see process_packet_batch)
        ).withColumn("_pkt_id", F.col("packet.id")).withColumn(
            "_pkt_from", F.col("packet.from")
        )
        # Only rows that CLAIM an id (and carry an event time for the
        # watermark) enter the dedup operator: null keys compare equal
        # in dropDuplicatesWithinWatermark, so routing id-less/malformed
        # rows through it would collapse them all into one row. No id
        # claim means no duplicate claim (same invariant as the batch
        # path, process_packet_batch).
        dedupable = F.col("_pkt_id").isNotNull() & F.col("event_ts").isNotNull()
        with_id = (
            parsed.filter(dedupable)
            .withWatermark("event_ts", DEDUP_WATERMARK)
            .dropDuplicatesWithinWatermark(["_pkt_from", "_pkt_id"])
            .select("value")
        )
        stream = with_id.unionByName(parsed.filter(~dedupable).select("value"))

    writer = stream.writeStream.foreachBatch(
        batch_processor
        or idempotent_batch_processor(
            paths,
            phase_clock=phase_clock,
            # this topology already deduped on [from, id] upstream —
            # the batch core must not pay the same shuffle again
            input_deduped=dedup_within_watermark,
        )
    ).option("checkpointLocation", paths.checkpoint_dir)
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer
