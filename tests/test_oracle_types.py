"""Result-type lint over every assembled oracle (VERDICT r5 task #1).

DuckDB widens ``sum()`` over integer inputs to HUGEINT (int128); the
driver's order-insensitive value hash is type-aware, so a HUGEINT
column hash-mismatches Spark's BIGINT even when every value is equal —
the root cause of every round-5 driver red. ``registry.resolved_oracles``
casts the known columns back to BIGINT at assembly; this test PLANS
(binds, never executes) every oracle under DuckDB against the sf0.001
fixtures and asserts no HUGEINT/UHUGEINT/DECIMAL column survives, so a
newly registered oracle that forgets the cast fails loudly here instead
of silently going driver-red three rounds later.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from sow_pyspark_scripts_spark.registry import (
    ORACLES,
    _ORACLE_BIGINT_CASTS,
    resolved_oracles,
)
from sow_pyspark_scripts_spark.sources import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TYPE_LINT_SF", "/root/testdata/sf0.001")

# The driver hashes these scalar types portably; anything else a new
# oracle emits should be reviewed (and either allowed here or cast).
FORBIDDEN_PREFIXES = ("DECIMAL",)
FORBIDDEN_EXACT = {"HUGEINT", "UHUGEINT"}


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(resolved_oracles()))
def test_oracle_emits_no_hugeint(duck, name):
    rel = duck.sql(resolved_oracles()[name])
    bad = [
        (c, str(t))
        for c, t in zip(rel.columns, rel.types)
        if str(t) in FORBIDDEN_EXACT
        or str(t).startswith(FORBIDDEN_PREFIXES)
    ]
    assert not bad, (
        f"oracle {name!r} emits driver-hostile column types {bad}; add the "
        "columns to registry._ORACLE_BIGINT_CASTS (integer aggregates) or "
        "cast explicitly in the oracle SQL"
    )


def test_cast_table_entries_are_live():
    """Every cast-table entry names a registered oracle and at least one
    of its columns — a stale entry (oracle renamed, column dropped)
    would silently stop casting."""
    for name, cols in _ORACLE_BIGINT_CASTS.items():
        assert name in ORACLES, f"cast table names unknown oracle {name!r}"
        assert cols, f"cast table entry {name!r} is empty"


def test_cast_preserves_columns(duck):
    """The REPLACE wrapper must not change column names or order."""
    for name in list(_ORACLE_BIGINT_CASTS)[:5]:
        raw = duck.sql(ORACLES[name])
        wrapped = duck.sql(resolved_oracles()[name])
        assert raw.columns == wrapped.columns, name
