"""Staging-cache invalidation (VERDICT r2 #7, ADVICE r2): derived
artifacts staged under tempdir — the streaming sentinel copy and the
stored ANN index — are keyed by a CONTENT fingerprint of their source
parquet (names + sizes + mtimes), so regenerating a fixture can never
serve a stale staged copy. These tests regenerate a fixture copy in
tmp and assert the staging key moves.
"""

from __future__ import annotations

import os
import shutil
import time

from sow_pyspark_scripts_spark.plans.ann_index import _fingerprint, _index_dir

from .conftest import SF_DIR


def _copy_fixture(tmp_path, tables=("events", "embeddings")):
    sf = tmp_path / "sfcopy"
    sf.mkdir()
    for t in tables:
        src = os.path.join(SF_DIR, f"{t}.parquet")
        dst = sf / f"{t}.parquet"
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copy(src, dst)
    return str(sf)


def _touch_tree(path):
    """Simulate fixture regeneration: bump mtimes (and thereby the
    content fingerprint) of every file under the table path."""
    future = time.time() + 10
    if os.path.isdir(path):
        for p in os.listdir(path):
            os.utime(os.path.join(path, p), (future, future))
    else:
        os.utime(path, (future, future))


def test_ann_index_dir_moves_on_fixture_regeneration(tmp_path):
    sf = _copy_fixture(tmp_path)
    d1, f1 = _index_dir(sf), _fingerprint(sf)
    _touch_tree(os.path.join(sf, "embeddings.parquet"))
    d2, f2 = _index_dir(sf), _fingerprint(sf)
    assert f1 != f2
    assert d1 != d2  # a stale index built at f1 can never be read at f2


def test_stream_flush_staging_moves_on_fixture_regeneration(spark, tmp_path):
    from sow_pyspark_scripts_spark.plans.dsel_ops import _stream_events_flushed

    sf = _copy_fixture(tmp_path, tables=("events",))
    _stream_events_flushed(spark, sf)
    import tempfile

    base = "spark_stream_flush_" + sf.strip("/").replace("/", "_").replace(".", "_")
    tmp = tempfile.gettempdir()
    try:
        dirs1 = {d for d in os.listdir(tmp) if d.startswith(base + "_")}
        assert len(dirs1) == 1, dirs1

        _touch_tree(os.path.join(sf, "events.parquet"))
        _stream_events_flushed(spark, sf)
        dirs2 = {d for d in os.listdir(tmp) if d.startswith(base + "_")}
        # re-staged under the NEW fingerprint; the stale sibling was removed
        assert len(dirs2) == 1, dirs2
        assert dirs1 != dirs2
    finally:
        # the fixture copy's path is unique to this run, so no later
        # staging would ever sweep what this test staged
        for d in os.listdir(tmp):
            if d.startswith(base + "_"):
                shutil.rmtree(os.path.join(tmp, d), ignore_errors=True)


def test_index_build_commits_atomically_and_sweeps_crashed_staging(spark):
    """r5 hardening: builds land via a private staging dir + one atomic
    rename (a reader can never observe a marker-less half-written final
    dir from a concurrent builder), and a crashed builder's leftover
    `.build-<pid>` staging is swept by the next build."""
    import os
    import shutil

    from sow_pyspark_scripts_spark.plans.ann_index import (
        _MARKER,
        _index_dir,
        ensure_doc_index,
    )
    from .conftest import SF_DIR

    d = _index_dir(SF_DIR, kind="doc", table="documents")
    # plant a fake crashed staging sibling
    crashed = f"{d}.build-99999"
    os.makedirs(crashed, exist_ok=True)
    open(os.path.join(crashed, "half_table.parquet"), "w").close()

    out = ensure_doc_index(spark, SF_DIR, rebuild=True)
    assert out == d
    assert os.path.exists(os.path.join(d, _MARKER))
    # the final dir holds complete tables (non-empty marker-gated commit)
    assert any(n.startswith("minhash_all_bands") for n in os.listdir(d))
    assert not os.path.exists(crashed), "crashed staging dir not swept"
    # no stray .build-* staging of ours left behind either
    parent = os.path.dirname(d)
    strays = [n for n in os.listdir(parent) if ".build-" in n]
    assert not strays, strays
