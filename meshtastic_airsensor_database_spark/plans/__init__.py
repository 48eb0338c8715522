"""Declared query surface.

Each query is a named pair (Spark DataFrame builder, DuckDB oracle SQL)
registered in ``registry.REGISTRY``; a query declared with
``base.sql_query`` runs its oracle text on Spark as its builder. The
driver's correctness gate runs both sides at sf0.01 and hash-compares;
queries without an oracle are genuinely non-SQL-expressible
(sketch/LSH internals) and get a rows-only check.
"""

from .registry import REGISTRY, Query, oracle_sql_map, queries_map  # noqa: F401
