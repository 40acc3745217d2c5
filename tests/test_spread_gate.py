"""r9 optimization guards: the parallelism gate on ``spread()`` and the
adaptive stateful-partition sizing for streaming drains.

VERDICT r8 task #3: ``spread()`` was unconditional inside ``simhash()``,
adding a full-input shuffle even for many-file production-scale reads
whose scan is already parallel. The gate must (a) still repartition the
single-row-group fixture shape, (b) be a no-op on an already-parallel
input, (c) honor an explicit target.

VERDICT r8 task #1: streaming drains size their stateful shuffle
partitions from drained input bytes (floor 4, capped at the session
conf, env-overridable) instead of paying 32 state-store setups per
stateful operator per micro-batch on a tiny fixture drain.
"""

from __future__ import annotations

import os

import pytest

from sow_pyspark_scripts_spark.sources import spread
from sow_pyspark_scripts_spark.streaming.pipeline import (
    _table_bytes,
    adaptive_state_partitions,
)


def test_spread_repartitions_single_partition_input(spark):
    df = spark.range(0, 1000).coalesce(1)
    assert df.rdd.getNumPartitions() == 1
    out = spread(df)
    target = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() == target
    assert out.count() == 1000


def test_spread_skips_already_parallel_input(spark):
    target = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000).repartition(target)
    out = spread(df)
    # gate: at/above half the target the spread is a no-op — the SAME
    # DataFrame comes back, no extra Exchange in the plan
    assert out is df


def test_spread_skips_multifile_parallel_scan(spark, tmp_path):
    # a many-file table whose scan is already parallel — the production
    # shape the gate exists for (each file is its own split here because
    # row groups can't merge across files... they CAN pack into shared
    # splits; force one-file-per-partition with tiny maxPartitionBytes)
    p = str(tmp_path / "many_files.parquet")
    target = spark.sparkContext.defaultParallelism
    spark.range(0, 10000).repartition(target).write.parquet(p)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_cost = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
        spark.conf.set("spark.sql.files.openCostInBytes", "1k")
        df = spark.read.parquet(p)
        assert df.rdd.getNumPartitions() * 2 >= target
        assert spread(df) is df
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        spark.conf.set("spark.sql.files.openCostInBytes", old_cost)


def test_spread_skips_shuffle_shaped_plans_without_rdd_planning(spark):
    # an input whose plan already contains a shuffle (join/aggregate)
    # must be skipped via LOGICAL plan inspection alone: asking the RDD
    # for partitions would make AQE execute the upstream stages — the
    # r9 double-execution regression on the cluster composites
    import pyspark.sql.functions as F

    a = spark.range(100).coalesce(1)
    b = spark.range(10)
    semi = a.join(b, "id", "left_semi")
    assert spread(semi) is semi
    agg = a.groupBy((F.col("id") % 10).alias("k")).count()
    assert spread(agg) is agg


def test_spread_explicit_target_still_honored(spark):
    df = spark.range(0, 100).coalesce(1)
    assert spread(df, 5).rdd.getNumPartitions() == 5


def test_adaptive_state_partitions_floor_and_cap(spark):
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert cap >= 4  # tests session runs with 8
    # tiny drain -> floor 4
    assert adaptive_state_partitions(spark, 1024) == 4
    # huge drain -> capped at the session conf (full parallelism at scale)
    assert adaptive_state_partitions(spark, 10**15) == cap
    # unknown size -> conservative: the session conf
    assert adaptive_state_partitions(spark, 0) == cap
    # one partition per ~32 MB in between
    assert adaptive_state_partitions(spark, 200 * 1024 * 1024) == min(cap, 7)


def test_adaptive_state_partitions_env_override(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "13")
    assert adaptive_state_partitions(spark, 1024) == 13
    assert adaptive_state_partitions(spark, 10**15) == 13


def test_table_bytes_matches_disk(tmp_path):
    sf = str(tmp_path)
    p = os.path.join(sf, "events.parquet")
    with open(p, "wb") as fh:
        fh.write(b"x" * 1234)
    assert _table_bytes(sf, "events") == 1234
    assert _table_bytes(sf, "missing") == 0


def _stream_counts(spark, tmp_path, n=50):
    """A watermarked per-ts count over ``n`` one-second rows: a stateful
    stream with ``n`` result rows."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "stream_src")
    spark.range(0, n).select(
        F.col("id"), F.timestamp_micros(F.col("id") * 1000000).alias("ts")
    ).coalesce(1).write.parquet(src)
    return (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src)
        .withWatermark("ts", "1 minute")
        .groupBy("ts")
        .count()
    )


def test_run_to_memory_restores_shuffle_partitions(spark, tmp_path, monkeypatch):
    # the drain runs its state with the adaptive partition count, but the
    # session value is back before the drain ends: the stream clones its
    # conf inside start(), so nothing after start() needs the swapped value
    from pyspark.sql.streaming.query import StreamingQuery

    from sow_pyspark_scripts_spark.streaming.pipeline import run_to_memory

    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", raising=False)
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "events.parquet").write_bytes(b"x" * 1234)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    drain = adaptive_state_partitions(spark, _table_bytes(str(sf), "events"))
    assert str(drain) != before

    seen = {}
    await_termination = StreamingQuery.awaitTermination

    def spy(self, *args, **kwargs):
        seen["conf"] = spark.conf.get("spark.sql.shuffle.partitions")
        seen["query"] = self
        return await_termination(self, *args, **kwargs)

    monkeypatch.setattr(StreamingQuery, "awaitTermination", spy)
    out = run_to_memory(
        _stream_counts(spark, tmp_path), "complete", sf_dir=str(sf), table="events"
    )
    assert seen["conf"] == before
    progress = seen["query"].lastProgress
    assert progress["stateOperators"][0]["numShufflePartitions"] == drain
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert out.count() == 50


def test_run_to_memory_drops_its_sink_view(spark, tmp_path):
    # a drain must not leave its stream_result_<uuid> temp view in the
    # session catalog, and the returned frame must outlive the view
    from sow_pyspark_scripts_spark.streaming.pipeline import run_to_memory

    def sink_views():
        return [
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith("stream_result_")
        ]

    before = sink_views()
    outs = [
        run_to_memory(_stream_counts(spark, tmp_path / str(i), n), "complete")
        for i, n in enumerate((10, 20, 30))
    ]
    assert sink_views() == before
    assert [o.count() for o in outs] == [10, 20, 30]


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-x", "-q"]))
