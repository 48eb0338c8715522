from __future__ import annotations

import pytest

from meshtastic_airsensor_database_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture()
def events_dir(tmp_path):
    """Writes an sf dir holding only an ``events`` table and returns its
    path (``sql_builder`` binds only the tables a text names). Rows are
    ``(user_id, ts, value)``, event_type "view", or ``(user_id, ts,
    value, event_type)``; event ids number the rows from 0."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(rows) -> str:
        n = len(rows)
        pq.write_table(pa.table({
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] if len(r) > 3 else "view" for r in rows]),
            "value": pa.array([r[2] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * n),
        }), str(tmp_path / "events.parquet"))
        return str(tmp_path)

    return write


@pytest.fixture()
def hashes(spark):
    """``(on_spark, on_duckdb)``: each returns ``(rows, value hash)`` the
    way the oracle gate hashes them, for a builder run on Spark and for
    a text run on DuckDB over the tables of one sf dir."""
    import os

    import duckdb

    from meshtastic_airsensor_database_spark.io_utils import table_path
    from meshtastic_airsensor_database_spark.schemas import TESTDATA_TABLES
    from tools.check_correctness import value_hash

    def on_spark(builder, sf_dir: str) -> tuple[int, str]:
        df = builder(spark, sf_dir)
        rows = [tuple(r) for r in df.collect()]
        return len(rows), value_hash(df.columns, rows)

    def on_duckdb(text: str, sf_dir: str) -> tuple[int, str]:
        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            path = table_path(sf_dir, t)
            if os.path.exists(path):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        res = con.sql(text)
        rows = res.fetchall()
        return len(rows), value_hash(list(res.columns), rows)

    return on_spark, on_duckdb
