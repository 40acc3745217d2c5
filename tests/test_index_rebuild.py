"""``rebuild=True`` replaces a committed index.

The build lands in a private ``.build-<pid>`` staging dir; with a
committed index already in place, the rebuild renames that one aside,
renames the new build in and removes the old one, so every rebuild
leaves newly written tables and no staging or aside dir.
"""

from __future__ import annotations

import os

from sow_pyspark_scripts_spark.plans.ann_index import _MARKER, ensure_ann_index

from .conftest import SF_DIR


def test_rebuild_replaces_the_committed_index(spark):
    d = ensure_ann_index(spark, SF_DIR)

    def codes():
        return sorted(os.listdir(os.path.join(d, "pq_codes.parquet")))

    seen = [codes()]
    for _ in range(2):
        assert ensure_ann_index(spark, SF_DIR, rebuild=True) == d
        assert os.path.exists(os.path.join(d, _MARKER))
        # part-file names carry the writing job's UUID
        assert codes() not in seen
        seen.append(codes())
    base = os.path.basename(d)
    strays = [n for n in os.listdir(os.path.dirname(d)) if n.startswith(base + ".")]
    assert not strays, strays
