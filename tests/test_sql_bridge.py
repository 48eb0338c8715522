"""The DuckDB spelling bridge (plans/base.py::BRIDGE): each Spark SQL
function returns what DuckDB's builtin of the same name returns, on the
edge inputs the twin texts can meet. One text runs on both engines, the
way a single-sourced query does."""

from __future__ import annotations

import datetime as dt
import re

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from meshtastic_airsensor_database_spark.plans import REGISTRY
from meshtastic_airsensor_database_spark.plans.base import BRIDGE


@pytest.fixture(scope="module")
def bridged(spark):
    for stmt in BRIDGE:
        spark.sql(stmt)
    return spark


def test_every_bridge_function_is_called_by_a_single_sourced_text():
    """The bridge holds no function that no query needs."""
    texts = [q.oracle for q in REGISTRY.values() if hasattr(q.builder, "sql")]
    for stmt in BRIDGE:
        name = re.search(r"FUNCTION (\w+)\(", stmt).group(1)
        assert any(re.search(rf"\b{name}\(", t) for t in texts), name


def _both(spark, text):
    """Rows of ``text`` on Spark (bridge defined) and on DuckDB, sorted."""
    got = sorted(tuple(r) for r in spark.sql(text).collect())
    want = sorted(duckdb.sql(text).fetchall())
    return got, want


def _values(rows):
    return ", ".join(f"({i}, {v})" for i, v in enumerate(rows))


TS_EDGES = [
    "NULL",
    "'1970-01-01 00:00:00'",
    "'1969-12-31 23:59:59.5'",       # fractional, before 1970: -0.5
    "'1969-12-31 23:59:59.999999'",
    "'1900-03-01 12:00:00.25'",
    "'2024-01-15 12:34:56.789012'",
    "'2262-04-11 23:47:16'",
]


def test_epoch_and_epoch_us_match_duckdb(bridged):
    text = f"""
    SELECT i, epoch(CAST(s AS TIMESTAMP)) AS e, epoch_us(CAST(s AS TIMESTAMP)) AS us
    FROM (VALUES {_values(TS_EDGES)}) AS v(i, s)
    """
    got, want = _both(bridged, text)
    assert got == want
    by_i = {r[0]: r for r in got}
    assert by_i[0][1:] == (None, None)
    assert by_i[2][1:] == (-0.5, -500_000)


MS_EDGES = ["NULL", "0", "-1", "-1500", "1705322096789", "-2208988800001"]


def test_epoch_ms_is_duckdbs_millis_to_timestamp_overload(bridged):
    # compared as text: both engines print a timestamp the same way, and
    # the comparison does not depend on how each client maps timestamps
    text = f"""
    SELECT i, CAST(epoch_ms(CAST(ms AS BIGINT)) AS STRING) AS t
    FROM (VALUES {_values(MS_EDGES)}) AS v(i, ms)
    """
    got, want = _both(bridged, text)
    assert got == want
    assert dict(got)[3] == "1969-12-31 23:59:58.5"


JSON_EDGES = [
    "NULL",
    """'{"k": 5}'""",
    """'{"k": -12}'""",
    """'{"k": "x y"}'""",
    """'{"k": {"a": 1, "b": [1, 2]}}'""",
    """'{"j": 1}'""",                 # absent key
    """'{"k": null}'""",
    """'{"k": 1.50}'""",
    """'{"k": true}'""",
    """'{"k": 1, "j": {"k": 2}}'""",  # $.k is the top-level k only
]


def test_json_extract_string_matches_duckdb(bridged):
    text = f"""
    SELECT i, json_extract_string(j, '$.k') AS k, json_extract_string(j, '$.j.k') AS jk
    FROM (VALUES {_values(JSON_EDGES)}) AS v(i, j)
    """
    got, want = _both(bridged, text)
    assert got == want
    by_i = {r[0]: r[1:] for r in got}
    assert by_i[1] == ("5", None) and by_i[4] == ('{"a":1,"b":[1,2]}', None)
    assert by_i[0] == by_i[5] == by_i[6] == (None, None)
    assert by_i[7] == ("1.5", None) and by_i[9] == ("1", "2")


def test_json_extract_string_malformed_json_is_null(bridged):
    """The one documented difference: DuckDB raises on malformed JSON,
    the bridge returns NULL (the reference parser's ``.get(key, None)``
    semantics). The testdata holds no malformed JSON."""
    text = """SELECT json_extract_string('{"k": ', '$.k') AS k"""
    assert bridged.sql(text).collect()[0]["k"] is None
    with pytest.raises(duckdb.Error):
        duckdb.sql(text).fetchall()


_EPOCH0 = dt.datetime(1970, 1, 1)
_MICROS = st.integers(min_value=-2_208_988_800_000_000, max_value=4_102_444_800_000_000)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(us=st.lists(_MICROS, min_size=1, max_size=20))
def test_epoch_functions_agree_with_duckdb_on_any_instant(bridged, us):
    """Random instants 1900..2100 at microsecond precision: epoch and
    epoch_us of the instant, and epoch_ms of its millis, agree with
    DuckDB."""
    ts = [f"'{_EPOCH0 + dt.timedelta(microseconds=x)}'" for x in us]
    text = f"""
    SELECT i, epoch(CAST(s AS TIMESTAMP)) AS e, epoch_us(CAST(s AS TIMESTAMP)) AS us,
           CAST(epoch_ms(CAST(ms AS BIGINT)) AS STRING) AS ms_ts
    FROM (VALUES {", ".join(f"({i}, {t}, {x // 1000})" for i, (t, x) in enumerate(zip(ts, us)))})
      AS v(i, s, ms)
    """
    got, want = _both(bridged, text)
    assert got == want
