"""Dimension enrichment (SURVEY.md §2.3).

The reference enriches every fact with (topic_id, longname) via a
Python dict lookup with a (None, None) default — i.e. a LEFT OUTER
broadcast hash join (AIRWISEv0.py:122, dict seeded at :41-49) — and
upserts the dict from nodeinfo packets, latest packet wins
(AIRWISEv0.py:253-254).

Scale note: the node dimension is tiny (6 rows in the reference; at
most millions of devices in any real mesh), so the join is ALWAYS
broadcast — no shuffle of the 100 TB fact side, ever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io_utils import values_frame
from ..schemas import NODE_DIM_SCHEMA, NODE_DIM_SEED


def seed_node_dim(spark: SparkSession) -> DataFrame:
    """The reference's static fleet seed (AIRWISEv0.py:41-49), as a
    ``VALUES`` relation (``io_utils.values_frame``): the ingest's first
    batch reads it before any snapshot exists, and it must not start
    Python workers there."""
    seed = values_frame(spark, NODE_DIM_SEED, "node, topic_id, longname")
    return seed.select(
        *[F.col(f.name).cast(f.dataType) for f in NODE_DIM_SCHEMA.fields[:3]],
        F.lit(None).cast("timestamp").alias("updated_ts"),
    )


def node_dim_enrich(facts: DataFrame, node_dim: DataFrame) -> DataFrame:
    """LEFT broadcast join facts -> (topic_id, longname); miss -> nulls.

    Mirrors ``node_dict.get(node, (None, None))`` (AIRWISEv0.py:122).
    Works identically on batch and streaming fact DataFrames
    (stream-static join).
    """
    dim = F.broadcast(node_dim.select("node", "topic_id", "longname"))
    return facts.join(dim, "node", "left")


def dim_upsert_latest_wins(node_dim: DataFrame, updates: DataFrame) -> DataFrame:
    """Merge nodeinfo updates into the dimension; latest update per node wins.

    Mirrors ``map_nodes``'s dict assignment (AIRWISEv0.py:253-254): a
    later nodeinfo packet overwrites, existing nodes absent from the
    batch are kept. Implemented as union + row_number latest-wins (the
    Delta-free MERGE emulation); in streaming this runs inside
    ``foreachBatch`` against the persisted dimension.
    """
    unioned = node_dim.select("node", "topic_id", "longname", "updated_ts").unionByName(
        updates.select("node", "topic_id", "longname", "updated_ts")
    )
    w = Window.partitionBy("node").orderBy(
        F.col("updated_ts").desc_nulls_last(), F.col("topic_id").desc_nulls_last()
    )
    return (
        unioned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def dim_history_scd2(
    updates: DataFrame,
    key_col: str = "node",
    attr_cols: tuple[str, ...] = ("topic_id", "longname"),
    ts_col: str = "updated_ts",
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from an update log.

    ``dim_upsert_latest_wins`` keeps only the newest attribute values —
    exactly the reference's dict overwrite (AIRWISEv0.py:253-254), which
    FORGETS every rename. This is the full-history generalization: the
    update log (seed rows may carry a null ``ts_col`` = "since forever")
    collapses to one row per distinct attribute VERSION with
    ``[valid_from, valid_to)`` validity and an ``is_current`` flag, so a
    fact row can be enriched with the name its node had *at event time*
    (join on ``key AND fact.ts >= valid_from AND (fact.ts < valid_to OR
    valid_to IS NULL)``).

    Semantics: per key, order updates by ``ts_col`` (nulls first — the
    seed predates everything; attribute columns break ties
    deterministically), drop rows whose attributes equal the previous
    row's (no-op re-announcements — nodeinfo packets rebroadcast
    unchanged identity constantly), then ``valid_to`` = next change's
    timestamp. Identical duplicate packets collapse for free: they sort
    adjacent and fail the change filter, so no (from,id) pre-dedup pass
    is needed.

    Scale shape: ONE shuffle — the window partition on the key; both
    windows share the same partitioning + ordering, so Catalyst plans a
    single Exchange + sort and the change filter / interval derivation
    run as narrow per-partition expressions. Dimension keys are
    device/entity ids (millions at most), so no skew concern.
    """
    attrs = F.struct(*[F.col(c) for c in attr_cols])
    order = [F.col(ts_col).asc_nulls_first(), *[F.col(c) for c in attr_cols]]
    w = Window.partitionBy(key_col).orderBy(*order)
    # lag at the first row is SQL NULL; NULL.eqNullSafe(attrs) is false,
    # so the first version per key always survives the change filter.
    changed = ~F.lag(attrs).over(w).eqNullSafe(attrs)
    changes = (
        updates.select(key_col, *attr_cols, ts_col)
        .withColumn("_chg", changed)
        .filter(F.col("_chg"))
        .drop("_chg")
    )
    valid_to = F.lead(F.col(ts_col)).over(w)
    return changes.select(
        key_col,
        *attr_cols,
        F.col(ts_col).alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )


def node_dim_enrich_asof(
    facts: DataFrame,
    history: DataFrame,
    ts_col: str = "timestamp_node",
    key_col: str = "node",
    attr_cols: tuple[str, ...] = ("topic_id", "longname"),
) -> DataFrame:
    """Event-time-correct dimension enrichment against an SCD2 history
    (``dim_history_scd2`` output): each fact gets the attribute values
    its key had AT the fact's event time, not the latest ones — the
    lookup ``node_dim_enrich`` cannot answer after a rename.

    LEFT join semantics like ``node_dim_enrich``: unknown keys (and
    facts with a null event time, which can match no interval) keep
    their rows with null attributes. A null ``valid_from`` means "since
    forever" (seed row); a null ``valid_to`` means the open current
    version. Because SCD2 intervals partition time per key, at most one
    history row matches — the join never duplicates facts.

    Scale shape: the history is dimension-sized (versions per device,
    still tiny), so it broadcasts; the equi key keeps this a
    BroadcastHASHJoin — the range predicate rides along as the join
    condition's non-equi residual, never a nested loop, and the 100-TB
    fact side is neither shuffled nor sorted. Sides are aliased and the
    range predicate lives IN the join condition so outer semantics
    survive (a post-join filter would silently drop null-extended
    rows).
    """
    f = facts.alias("f")
    h = F.broadcast(
        history.select(key_col, *attr_cols, "valid_from", "valid_to")
    ).alias("h")
    ts = F.col(f"f.{ts_col}")
    cond = (
        (F.col(f"f.{key_col}") == F.col(f"h.{key_col}"))
        & (F.col("h.valid_from").isNull() | (ts >= F.col("h.valid_from")))
        & (F.col("h.valid_to").isNull() | (ts < F.col("h.valid_to")))
    )
    joined = f.join(h, cond, "left")
    return joined.select(
        "f.*", *[F.col(f"h.{c}").alias(f"{c}_at_event") for c in attr_cols]
    )
