"""The query side of an ADC LUT and the coding side slice vectors
through one split (`plans/pq_common._subvec_split`); the coding side
adds its sign cells. The slices the LUT scores must be the slices the
codebook was trained on, for both integer grid forms."""

from __future__ import annotations

from sow_pyspark_scripts_spark.plans.pq_common import (
    _ivfadc_residuals,
    _ivfadc_subvecs,
    _pq_grid,
    _pq_subvecs,
    _subvec_split,
)
from sow_pyspark_scripts_spark.sources import read_table

from .conftest import SF_DIR


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_split_matches_pq_coding_slices(spark):
    emb = read_table(spark, SF_DIR, "embeddings")
    split = _subvec_split(_pq_grid(emb), "eq", "sv")
    assert split.columns == ["vec_id", "sub", "sv"]
    rows = _rows(split)
    assert len(rows) == 4 * emb.count()
    assert rows == _rows(_pq_subvecs(emb).select("vec_id", "sub", "sv"))


def test_split_matches_ivfadc_coding_slices(spark):
    resid = _ivfadc_residuals(spark, SF_DIR)
    split = _subvec_split(resid, "r6", "rsv", carry=("ivf_cell",))
    assert split.columns == ["vec_id", "ivf_cell", "sub", "rsv"]
    rows = _rows(split)
    assert len(rows) == 4 * resid.count()
    coded = _ivfadc_subvecs(resid).select("vec_id", "ivf_cell", "sub", "rsv")
    assert rows == _rows(coded)
