"""The stored ANN index layout (index version 7).

Each trained codebook is one row of 64 slots, slot = sub * 16 + cell,
NULL where no cell was trained. Unpivoting that row must give exactly
the long (sub, cell, codeword) rows the index stored before the
one-row layout, and the other four tables must not change: the
expected digests below are of the sf0.001 fixture's index as built by
the long layout (version 6).
"""

from __future__ import annotations

import hashlib
import os

import pytest

from sow_pyspark_scripts_spark.plans.ann_index import ensure_ann_index
from sow_pyspark_scripts_spark.sources import scan

from .conftest import SF_DIR

EXPECTED_MD5 = {
    "pq_codebook": "63c78914228407f3374827551bdf7976",
    "pq_codes": "e80e5fea7f95a15dd0e35636ee59a2a4",
    "ivf_centroids": "0b77fbff52938705737d7d5c91582d08",
    "ivf_cells": "df9dd06bb45292592cdf41ac8d16795a",
    "ivfadc_codebook": "7bf99269bd7f603d0d71e343656747a2",
    "ivfadc_codes": "72f67a22f41801ae6a9522b7463e64b7",
}


def _canon(v):
    return tuple(_canon(x) for x in v) if isinstance(v, (list, tuple)) else v


def _md5(rows) -> str:
    """md5 over the sorted reprs of the rows, arrays as tuples."""
    lines = sorted(repr(_canon(tuple(r))) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def _unpivot(row):
    """The one-row codebook back to its (sub, cell, codeword) rows."""
    return [(s // 16, s % 16, cw) for s, cw in enumerate(row[0]) if cw is not None]


@pytest.mark.skipif(
    os.path.basename(SF_DIR.rstrip("/")) != "sf0.001",
    reason="the expected digests are of the sf0.001 fixture",
)
def test_codebooks_are_one_row_and_unpivot_to_the_long_rows(spark):
    idx = ensure_ann_index(spark, SF_DIR)
    got = {}
    for table, want in EXPECTED_MD5.items():
        df = scan(spark, os.path.join(idx, f"{table}.parquet"))
        rows = df.collect()
        if table.endswith("_codebook"):
            assert df.schema.simpleString().endswith(":array<array<bigint>>>"), df.schema
            assert len(rows) == 1 and len(rows[0][0]) == 64, (table, len(rows))
            rows = _unpivot(rows[0])
        got[table] = _md5(rows)
    assert got == EXPECTED_MD5
