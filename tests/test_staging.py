"""The one staging protocol for derived artifacts (sources/staging.py),
driven by pure-Python builders, so no Spark session is needed: racing
builders commit exactly one build, a failed build leaves nothing behind,
and the sibling sweep spares running builders and live drains.
"""

from __future__ import annotations

import os
import sys
import threading
import time

import pytest

from sow_pyspark_scripts_spark.sources import staging


@pytest.fixture
def key(tmp_path):
    """(prefix, sf_dir): a one-file source table and a staging prefix."""
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "t.parquet").write_bytes(b"rows")
    root = tmp_path / "stage"
    root.mkdir()
    return str(root / "x"), str(sf)


def _siblings(prefix):
    root, stem = os.path.split(prefix)
    return sorted(n for n in os.listdir(root) if n.startswith(stem))


def _write_one(name):
    def build(_spark, _sf_dir, out):
        with open(os.path.join(out, name), "w") as fh:
            fh.write(name)

    return build


def test_racing_builders_commit_one_build(key):
    prefix, sf = key
    barrier = threading.Barrier(4)
    paths = [None] * 4

    def build(_spark, _sf_dir, out):
        barrier.wait(timeout=30)  # all four are building before any commits
        _write_one(f"part-{threading.get_ident()}")(None, None, out)

    def run(i):
        paths[i] = staging.stage(None, prefix, sf, "t", build)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(4)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    d = staging.staged_path(prefix, sf, "t")
    assert paths == [d] * 4
    files = sorted(os.listdir(d))
    assert len(files) == 2 and staging.MARKER in files, files
    assert _siblings(prefix) == [os.path.basename(d)]


def test_failed_build_leaves_nothing(key):
    prefix, sf = key

    def build(_spark, _sf_dir, out):
        _write_one("part-0")(None, None, out)
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        staging.stage(None, prefix, sf, "t", build)
    assert _siblings(prefix) == []


def test_sweep_keeps_running_builders_only(key):
    prefix, sf = key
    stale = f"{prefix}_v{staging._INDEX_VERSION}_{'0' * 16}"
    own = f"{stale}.build-{os.getpid()}-abc123"
    dead = f"{stale}.build-99999"
    for d in (own, dead):
        os.makedirs(d)
    d = staging.stage(None, prefix, sf, "t", _write_one("part-0"))
    assert os.path.isdir(own), "a running builder's dir was swept"
    assert not os.path.exists(dead), "a dead builder's dir was kept"
    assert os.path.exists(os.path.join(d, staging.MARKER))


def test_sweep_keeps_siblings_with_a_fresh_drain_checkpoint(key):
    prefix, sf = key
    live = f"{prefix}_v{staging._INDEX_VERSION}_{'a' * 16}"
    idle = f"{prefix}_v{staging._INDEX_VERSION}_{'b' * 16}"
    old = f"{prefix}_v{staging._INDEX_VERSION - 1}_{'c' * 16}"
    os.makedirs(os.path.join(live, "chk_dedup", "offsets"))
    os.makedirs(os.path.join(idle, "src"))
    os.makedirs(os.path.join(old, "chk_dedup"))
    past = time.time() - 2 * staging._STAGE_GRACE_SEC
    os.utime(os.path.join(old, "chk_dedup"), (past, past))
    staging.stage(None, prefix, sf, "t", _write_one("part-0"))
    assert os.path.isdir(live), "a sibling with a fresh checkpoint was swept"
    assert not os.path.exists(idle)
    assert not os.path.exists(old), "a sibling with a stale checkpoint was kept"


def test_hit_does_not_rebuild_and_rebuild_replaces(key):
    prefix, sf = key
    d = staging.stage(None, prefix, sf, "t", _write_one("first"))
    assert staging.stage(None, prefix, sf, "t", _write_one("second")) == d
    assert "first" in os.listdir(d)
    assert staging.stage(None, prefix, sf, "t", _write_one("third"), rebuild=True) == d
    assert sorted(os.listdir(d)) == sorted([staging.MARKER, "third"])
    assert _siblings(prefix) == [os.path.basename(d)]
