"""The schema memo of ``sources.parquet.scan``: a rebuilt read of
unchanged files plans with no Spark job, and anything that can change
the inferred schema (a rewrite, a touched file, a schema-bearing conf)
misses the memo and infers again."""

from __future__ import annotations

import hashlib
import os
import stat
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

from sow_pyspark_scripts_spark.sources import TABLES, scan, staging

from .conftest import SF_DIR


def _jobs(spark, fn):
    """``(fn(), number of Spark jobs fn ran)``, counted under a job group."""
    sc = spark.sparkContext
    group = f"scan-memo-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "scan memo test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker is fed asynchronously
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def conf(spark):
    """Set session confs for one test and restore them after it."""
    saved = {}

    def set_(key, value):
        saved.setdefault(key, spark.conf.get(key))
        spark.conf.set(key, value)

    yield set_
    for key, value in saved.items():
        spark.conf.set(key, value)


def test_second_scan_of_unchanged_table_runs_no_job(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(10).selectExpr("id", "id * 2 AS y").write.parquet(path)
    first, n_first = _jobs(spark, lambda: scan(spark, path).schema)
    second, n_second = _jobs(spark, lambda: scan(spark, path).schema)
    assert n_first >= 1  # the footer-merge job of schema inference
    assert n_second == 0
    assert first == second
    assert sorted(r.y for r in scan(spark, path).collect()) == [2 * i for i in range(10)]


def test_overwrite_with_a_new_schema_returns_the_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(3).selectExpr("id AS a").write.parquet(path)
    assert scan(spark, path).columns == ["a"]
    spark.range(3).selectExpr("CAST(id AS STRING) AS b").write.mode("overwrite").parquet(path)
    df = scan(spark, path)
    assert df.columns == ["b"]
    assert sorted(r.b for r in df.collect()) == ["0", "1", "2"]


def test_touched_file_misses_the_memo(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(5).write.parquet(path)
    scan(spark, path)
    _, n_hit = _jobs(spark, lambda: scan(spark, path))
    future = time.time() + 10
    for name in os.listdir(path):
        os.utime(os.path.join(path, name), (future, future))
    _, n_after_touch = _jobs(spark, lambda: scan(spark, path))
    assert n_hit == 0
    assert n_after_touch >= 1


def test_partitioned_dir_is_fingerprinted_recursively(spark, tmp_path):
    path = str(tmp_path / "p.parquet")
    spark.range(6).selectExpr("id", "id % 2 AS k").write.partitionBy("k").parquet(path)
    first = scan(spark, path)
    assert first.columns == ["id", "k"]
    _, n_hit = _jobs(spark, lambda: scan(spark, path))
    fp = staging.fingerprint(path)
    part = os.path.join(path, "k=1")
    future = time.time() + 10
    for name in os.listdir(part):
        os.utime(os.path.join(part, name), (future, future))
    assert staging.fingerprint(path) != fp
    again, n_miss = _jobs(spark, lambda: scan(spark, path))
    assert n_hit == 0
    assert n_miss >= 1
    assert again.schema == first.schema


def test_nanos_as_long_flip_misses_the_memo(spark, tmp_path, conf):
    path = str(tmp_path / "events.parquet")
    ts = pa.array([1_000_000_123, 2_000_000_456], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts, "v": [1, 2]}), path, version="2.6")
    conf("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert isinstance(scan(spark, path).schema["ts"].dataType, LongType)
    conf("spark.sql.legacy.parquet.nanosAsLong", "false")
    # the remembered LongType must not be served: inference runs again
    # and Spark rejects TIMESTAMP(NANOS) without the conf
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        scan(spark, path)
    conf("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema, n = _jobs(spark, lambda: scan(spark, path).schema)
    assert isinstance(schema["ts"].dataType, LongType) and n == 0


def test_timestamp_ntz_inference_flip_gives_the_other_type(spark, conf):
    path = os.path.join(SF_DIR, "events.parquet")
    conf("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    assert isinstance(scan(spark, path).schema["ts"].dataType, TimestampNTZType)
    conf("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert isinstance(scan(spark, path).schema["ts"].dataType, TimestampType)


def test_unstattable_path_is_read_as_is(spark, tmp_path):
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        scan(spark, str(tmp_path / "missing.parquet"))


def _parent_fingerprint(src: str) -> str:
    """The staging key rule before partitioned dirs were walked: names,
    sizes and mtimes of a flat dir's entries, or a file's size and mtime."""
    st = os.stat(src)
    h = hashlib.md5()
    if stat.S_ISDIR(st.st_mode):
        for p in sorted(os.listdir(src)):
            pst = os.stat(os.path.join(src, p))
            h.update(f"{p}:{pst.st_size}:{pst.st_mtime_ns};".encode())
    else:
        h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def test_staging_keys_of_files_and_flat_dirs_are_unchanged(spark, tmp_path):
    for t in TABLES:
        src = os.path.join(SF_DIR, f"{t}.parquet")
        assert staging.fingerprint(src) == _parent_fingerprint(src), t
    flat = str(tmp_path / "flat.parquet")
    spark.range(20).repartition(3).write.parquet(flat)
    assert staging.fingerprint(flat) == _parent_fingerprint(flat)
