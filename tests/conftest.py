"""Shared fixtures: one SparkSession, one DuckDB connection with the
fixture tables registered, and the oracle-compare helper that mirrors the
driver's check (row count + column names + order-insensitive values).
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from sow_pyspark_scripts_spark.session import get_spark
from sow_pyspark_scripts_spark.sources import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _canon(v):
    """Canonicalize a cell for order-insensitive compare."""
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # driver hashes rounded values; queries already round, this only
        # absorbs 1e-12-level float noise
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def assert_oracle_match(spark_df, duck_con, sql, check_types=True):
    """Mirror of the driver's compare: sort columns by name, compare row
    count and multiset of canonicalized rows."""
    sdf = spark_df
    scols = sorted(sdf.columns)
    srows = [tuple(_canon(r[c]) for c in scols) for r in sdf.collect()]

    dres = duck_con.execute(sql)
    dcols_full = [d[0] for d in dres.description]
    drows_raw = dres.fetchall()
    dcols = sorted(dcols_full)
    assert scols == dcols, f"column mismatch: spark={scols} duck={dcols}"
    idx = [dcols_full.index(c) for c in dcols]
    drows = [tuple(_canon(r[i]) for i in idx) for r in drows_raw]

    assert len(srows) == len(drows), f"row count: spark={len(srows)} duck={len(drows)}"
    ss, dd = sorted(srows), sorted(drows)
    for i, (a, b) in enumerate(zip(ss, dd)):
        assert a == b, f"row {i} mismatch (cols {dcols}):\n  spark={a}\n  duck ={b}"
