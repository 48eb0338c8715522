"""Dimension enrich / upsert tests (SURVEY §2.3)."""

from __future__ import annotations

import datetime as dt

from meshtastic_airsensor_database_spark.operators.enrich import (
    dim_history_scd2,
    dim_upsert_latest_wins,
    node_dim_enrich,
    node_dim_enrich_asof,
    seed_node_dim,
)


def test_enrich_left_semantics(spark):
    """Known node -> (topic_id, longname); unknown -> (None, None),
    mirroring node_dict.get(node, (None, None)) (AIRWISEv0.py:122)."""
    facts = spark.createDataFrame(
        [(3127201152, 1.0), (999, 2.0)], ["node", "temperature"]
    )
    out = {r.node: r for r in node_dim_enrich(facts, seed_node_dim(spark)).collect()}
    assert out[3127201152].longname == "Farm1"
    assert out[3127201152].topic_id == "!ba654d80"
    assert out[999].longname is None and out[999].topic_id is None
    assert len(out) == 2  # left join never drops facts


def test_seed_node_dim_plans_in_the_jvm(spark):
    """The seed is a VALUES relation: its plan is one LocalTableScan,
    with no RDD scan (createDataFrame over a Python list) and nothing
    that starts Python workers; its schema is the node dimension's."""
    from meshtastic_airsensor_database_spark.schemas import NODE_DIM_SCHEMA, NODE_DIM_SEED

    seed = seed_node_dim(spark)
    plan = seed._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "RDD" not in plan and "Python" not in plan and "ArrowEval" not in plan, plan
    assert [(f.name, f.dataType) for f in seed.schema.fields] == [
        (f.name, f.dataType) for f in NODE_DIM_SCHEMA.fields
    ]
    assert sorted((r.node, r.topic_id, r.longname, r.updated_ts) for r in seed.collect()) == sorted(
        (n, t, name, None) for n, t, name in NODE_DIM_SEED
    )


def test_upsert_latest_wins(spark):
    dim = seed_node_dim(spark)
    t1 = dt.datetime(2024, 1, 1, 10, 0)
    t2 = dt.datetime(2024, 1, 1, 11, 0)
    updates = spark.createDataFrame(
        [
            (3127201152, "!ba654d80", "Farm1-renamed", t1),
            (3127201152, "!ba654d80", "Farm1-final", t2),  # later wins
            (555, "!new", "NewNode", t1),  # insert
        ],
        ["node", "topic_id", "longname", "updated_ts"],
    )
    merged = {r.node: r for r in dim_upsert_latest_wins(dim, updates).collect()}
    assert merged[3127201152].longname == "Farm1-final"
    assert merged[555].longname == "NewNode"
    assert merged[2102560288].longname == "Farm2"  # untouched rows kept
    assert len(merged) == 7


def test_scd2_history_versions_and_intervals(spark):
    """Seed (null ts) -> rename -> duplicate re-announce -> rename:
    4 log rows + 1 dup collapse to 3 versions with touching
    [valid_from, valid_to) intervals; only the last is current."""
    log = spark.createDataFrame(
        [
            (1, "!a", "Farm-orig", None),  # seed: since forever
            (1, "!a", "Farm-v2", 100),
            (1, "!a", "Farm-v2", 150),  # no-op re-announcement -> dropped
            (1, "!a", "Farm-v3", 200),
            (2, "!b", "Stable", None),  # never renamed
        ],
        "node long, topic_id string, longname string, updated_epoch long",
    )
    hist = dim_history_scd2(log, ts_col="updated_epoch").collect()
    one = sorted(
        [r for r in hist if r.node == 1],
        key=lambda r: (r.valid_from is not None, r.valid_from),
    )
    assert [(r.longname, r.valid_from, r.valid_to) for r in one] == [
        ("Farm-orig", None, 100),
        ("Farm-v2", 100, 200),
        ("Farm-v3", 200, None),
    ]
    assert [r.is_current for r in one] == [False, False, True]
    (two,) = [r for r in hist if r.node == 2]
    assert two.is_current and two.valid_from is None and two.valid_to is None


def test_scd2_duplicate_packets_collapse_without_predup(spark):
    """Byte-identical duplicate updates (LoRa rebroadcast) sort adjacent
    and fail the change filter — no (from,id) pre-dedup pass needed."""
    log = spark.createDataFrame(
        [(7, "!x", "N1", 10), (7, "!x", "N1", 10), (7, "!x", "N2", 20)],
        "node long, topic_id string, longname string, updated_epoch long",
    )
    hist = dim_history_scd2(log, ts_col="updated_epoch").collect()
    assert len(hist) == 2


def test_asof_enrich_event_time_names(spark):
    """Facts pick the name valid AT event time; pre-seed facts match
    the null-valid_from seed interval; unknown nodes and null-ts facts
    survive with null attributes (left semantics)."""
    log = spark.createDataFrame(
        [(1, "!a", "Old", None), (1, "!a", "New", 100)],
        "node long, topic_id string, longname string, updated_epoch long",
    )
    hist = dim_history_scd2(log, ts_col="updated_epoch")
    facts = spark.createDataFrame(
        [(1, 50, 1.0), (1, 100, 2.0), (1, 500, 3.0), (9, 50, 4.0), (1, None, 5.0)],
        "node long, timestamp_node long, temperature double",
    )
    out = node_dim_enrich_asof(facts, hist)
    rows = {r.temperature: r for r in out.collect()}
    assert len(rows) == 5  # interval partition -> no fact duplication
    assert rows[1.0].longname_at_event == "Old"
    assert rows[2.0].longname_at_event == "New"  # boundary: [valid_from, ...)
    assert rows[3.0].longname_at_event == "New"
    assert rows[4.0].longname_at_event is None  # unknown node kept
    assert rows[5.0].longname_at_event is None  # null event time kept
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "NestedLoop" not in plan, plan


def test_scd2_single_shuffle_plan(spark):
    """Both windows share partitioning+ordering: exactly one Exchange in
    the physical plan (the 100-TB contract in the docstring)."""
    log = spark.createDataFrame(
        [(1, "!a", "x", 1)],
        "node long, topic_id string, longname string, updated_epoch long",
    )
    plan = (
        dim_history_scd2(log, ts_col="updated_epoch")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan
