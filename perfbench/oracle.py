"""Result check against the registry's DuckDB oracles.

The comparison is the repository's own oracle rule,
``tests/conftest.py:assert_oracle_match``: columns sorted by name, then
the multiset of rows with each cell canonicalized must be equal.
"""

from __future__ import annotations

import os

import duckdb

from tests.conftest import assert_oracle_match


def connect(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB with one view per generated table."""
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def check(df, con: duckdb.DuckDBPyConnection, sql: str) -> str | None:
    """Why ``df`` differs from ``sql`` run on ``con``, or None."""
    try:
        assert_oracle_match(df, con, sql)
    except AssertionError as exc:
        return str(exc)
    return None
