"""Pin-mode dispatch tests (ADVICE r4 #2).

``localCheckpoint`` blocks are non-replicated and non-fault-tolerant:
on a multi-executor cluster an executor loss after materialization
fails the job instead of recomputing. Round 5 routes every
materialization barrier through ``functions.pin`` so deployments pick
the semantics: ``localCheckpoint`` (single-node/bench default, bounded
CacheManager), ``persist`` (lineage kept — production fault tolerance,
released per query via ``release_pins``), or reliable ``checkpoint``.
These tests assert results are identical across modes and that
``release_pins`` actually empties the tracked set.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sow_pyspark_scripts_spark.functions.pin import pin, pin_eager, release_pins
from sow_pyspark_scripts_spark.sources import read_table

from .conftest import SF_DIR


def _with_mode(spark, mode):
    spark.conf.set("spark.sowps.pinMode", mode)


@pytest.fixture(autouse=True)
def _reset_mode(spark):
    yield
    spark.conf.set("spark.sowps.pinMode", "localCheckpoint")
    release_pins(spark)


@pytest.mark.parametrize("mode", ["localCheckpoint", "persist"])
def test_pin_result_identical_across_modes(spark, mode):
    _with_mode(spark, mode)
    df = (
        read_table(spark, SF_DIR, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(pin)
    )
    rows = sorted(map(tuple, df.collect()))
    _with_mode(spark, "localCheckpoint")
    base = sorted(
        map(
            tuple,
            read_table(spark, SF_DIR, "documents")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect(),
        )
    )
    assert rows == base


def test_persist_mode_tracks_and_releases(spark):
    _with_mode(spark, "persist")
    df = read_table(spark, SF_DIR, "nation").transform(pin)
    df.count()
    assert df.storageLevel.useMemory or df.storageLevel.useDisk
    n = release_pins(spark)
    assert n >= 1
    assert release_pins(spark) == 0  # drained


def test_ann_index_rebuild_leaves_no_persisted_rdds(spark):
    """The stored ANN index build pins the coarse assignment and the
    residual codes with localCheckpoint; once the build is done and
    ``release_pins`` has run, the session holds no more persisted RDDs
    than before it (the build used to leave two for the session's life)."""
    from sow_pyspark_scripts_spark.plans.ann_index import ensure_ann_index

    _with_mode(spark, "localCheckpoint")
    cached = spark.sparkContext._jsc.getPersistentRDDs
    release_pins(spark)
    start = cached().size()
    ensure_ann_index(spark, SF_DIR, rebuild=True)
    release_pins(spark)
    assert cached().size() <= start


def test_release_pins_frees_local_checkpoints(spark):
    """A localCheckpoint pin is tracked by its RDD id and unpersisted by
    ``release_pins``, lazy or eager."""
    from sow_pyspark_scripts_spark.functions.pin import _rdd_id

    _with_mode(spark, "localCheckpoint")
    cached = spark.sparkContext._jsc.getPersistentRDDs
    release_pins(spark)
    nation = read_table(spark, SF_DIR, "nation")
    lazy = nation.transform(pin)
    eager = nation.transform(pin_eager)
    assert lazy.count() == eager.count() == 25
    ids = [_rdd_id(lazy), _rdd_id(eager)]
    assert all(cached().containsKey(i) for i in ids)
    assert release_pins(spark) == 2
    assert not any(cached().containsKey(i) for i in ids)


def test_pin_eager_materializes(spark):
    _with_mode(spark, "persist")
    df = read_table(spark, SF_DIR, "region").transform(pin_eager)
    # eager persist has already counted; blocks are live
    assert df.storageLevel.useMemory or df.storageLevel.useDisk
    release_pins(spark)


def _path(spark, n):
    vertices = spark.range(n).select(F.col("id").alias("doc_id"))
    edges = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    return vertices, edges


def test_connected_components_releases_each_round_in_persist_mode(spark):
    """Each round pins its labels; the round after must free them, so
    a 256-vertex path (9 rounds) leaves at most the final labels
    cached. The result's logical plan stays bounded: cut every round,
    it is no longer for 256 vertices than twice that for 16."""
    from sow_pyspark_scripts_spark.operators.graph import connected_components

    _with_mode(spark, "persist")
    cached = spark.sparkContext._jsc.getPersistentRDDs
    start = cached().size()
    small = connected_components(*_path(spark, 16))
    small_plan = len(small._jdf.queryExecution().logical().toString())
    release_pins(spark)
    n = 256
    out = connected_components(*_path(spark, n))
    assert cached().size() - start <= 1  # only the final round's labels
    assert len(out._jdf.queryExecution().logical().toString()) <= 2 * small_plan
    assert sorted(map(tuple, out.collect())) == [(i, 0) for i in range(n)]
    release_pins(spark)
    assert cached().size() <= start


def test_persist_mode_pin_eager_is_a_released_leaf(spark):
    """A persist-mode eager pin re-roots the frame on its RDD (a leaf
    logical plan, lineage kept in the RDD) and is still tracked and
    freed by ``release_pins``."""
    _with_mode(spark, "persist")
    df = (
        read_table(spark, SF_DIR, "nation")
        .groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(pin_eager)
    )
    assert df._jdf.queryExecution().logical().children().isEmpty()
    assert df.storageLevel.useMemory or df.storageLevel.useDisk
    assert release_pins(spark) >= 1
    assert not (df.storageLevel.useMemory or df.storageLevel.useDisk)


def test_full_query_identical_under_persist_mode(spark):
    """A real registered query (semdedup — multiple pins inside) returns
    identical rows in persist mode as in the default mode."""
    import __spark_entry__ as em

    fn = em.queries()["dedup_semantic_semdedup"]
    a = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    _with_mode(spark, "persist")
    b = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    assert a == b


def test_default_mode_is_master_aware(spark):
    """Unset conf -> localCheckpoint on local[*], persist elsewhere
    (VERDICT r5 deployment-posture flag): a cluster that never sets
    spark.sowps.pinMode must get the recompute-safe mode, never
    non-replicated localCheckpoint blocks."""
    from sow_pyspark_scripts_spark.functions.pin import _default_mode

    assert _default_mode(spark) == "localCheckpoint"  # tests run local[*]

    class _FakeConf:
        def get(self, key, default=None):
            return "spark://cluster-master:7077"

    class _FakeSession:
        conf = _FakeConf()

    assert _default_mode(_FakeSession()) == "persist"
