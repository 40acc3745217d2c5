"""Materialization pins for multiply-consumed intermediates.

Every plan that reuses an expensive intermediate (a cell assignment, a
band table, a per-shard top-k) needs a materialization barrier so the
subtree runs once. HOW to materialize is a deployment decision, not a
plan decision (ADVICE r4 #2):

- ``localCheckpoint`` — truncates lineage with NON-REPLICATED,
  non-fault-tolerant blocks: any executor loss (or dynamic-allocation
  decommission) after materialization fails the job with "checkpoint
  block not found" instead of recomputing. Right for ``local[*]``
  (executor loss == application loss anyway) and for bench runs, where
  it also avoids unbounded CacheManager growth across hundreds of
  queries in one session (the r3 ADVICE that moved the repo off
  ``persist()``). The blocks are NOT owned by the frame's lifecycle:
  the JVM can keep the checkpointed RDD reachable after every Python
  handle is gone (the ANN index build left two behind for the rest of
  the session), so each pin's RDD id is tracked and freed by
  :func:`release_pins` as well.
- ``persist`` — MEMORY_AND_DISK cache with lineage kept: a lost block
  recomputes. The multi-executor production mode. ``pin_eager`` still
  cuts the logical plan here (see its docstring). Pinned frames are
  tracked per-session; call :func:`release_pins` when the query's
  results are consumed (bench.py does this per query) so the
  CacheManager never accumulates.

Select one of the two with ``spark.conf.set("spark.sowps.pinMode",
...)``; any other value raises. When the conf is UNSET the default is
master-aware (VERDICT r5 deployment-posture flag): ``localCheckpoint``
on a ``local[*]`` master (executor loss is application loss there, and
bench sessions need the bounded-CacheManager property), ``persist`` on
anything else — a cluster deployment that never sets the conf gets the
recompute-safe mode, not the non-replicated-blocks one. Call sites use ``df.transform(pin)``
(or ``pin_eager``), so plan code stays chain-shaped and mode-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# per session: persist-mode frames, and the RDD ids of localCheckpoints
_PINNED: dict[str, list[DataFrame | int]] = {}


def _default_mode(spark) -> str:
    """localCheckpoint iff the master is single-JVM local (``local`` /
    ``local[N]`` / ``local[*]``); persist otherwise. ``local-cluster[...]``
    deliberately falls to persist: it runs real executor JVMs whose loss
    discards non-replicated localCheckpoint blocks, same as any cluster
    master (ADVICE r6 — a bare startswith('local') matched it)."""
    try:
        master = spark.conf.get("spark.master", "") or ""
    except Exception:  # noqa: BLE001 — conf unreadable mid-shutdown
        master = ""
    single_jvm = master == "local" or master.startswith("local[")
    return "localCheckpoint" if single_jvm else "persist"


def _pin(df: DataFrame, eager: bool) -> DataFrame:
    spark = df.sparkSession
    mode = spark.conf.get("spark.sowps.pinMode", None) or _default_mode(spark)
    if mode == "persist":
        from pyspark import StorageLevel

        if eager:
            # re-root on the frame's own RDD: the logical plan becomes a
            # LogicalRDD leaf, the RDD keeps its lineage for recompute
            jdf = spark._jsparkSession.createDataFrame(df._jdf.javaRDD(), df._jdf.schema())
            df = DataFrame(jdf, spark)
        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        _PINNED.setdefault(_session_key(spark), []).append(out)
        if eager:
            out.count()
        return out
    if mode != "localCheckpoint":
        raise ValueError(f"spark.sowps.pinMode: unknown mode {mode!r}")
    out = df.localCheckpoint(eager=eager)
    _PINNED.setdefault(_session_key(spark), []).append(_rdd_id(out))
    return out


def _rdd_id(df: DataFrame) -> int:
    """Id of the RDD under a checkpointed frame's ``LogicalRDD`` leaf."""
    return df._jdf.queryExecution().logical().rdd().id()


def _free(spark, pinned: DataFrame | int) -> None:
    if isinstance(pinned, DataFrame):
        pinned.unpersist()
        return
    rdd = spark.sparkContext._jsc.getPersistentRDDs().get(pinned)
    if rdd is not None:
        rdd.unpersist(False)


def _session_key(spark) -> str:
    return str(id(spark))


def pin(df: DataFrame) -> DataFrame:
    """Lazy materialization barrier — ``df.transform(pin)``."""
    return _pin(df, eager=False)


def pin_eager(df: DataFrame) -> DataFrame:
    """Eager barrier (materializes now) — ``df.transform(pin_eager)``.
    Used where the caller frees an upstream resource (a shard
    broadcast) immediately after, and by iterative operators whose
    next round must start from a bounded plan.

    Both modes cut the LOGICAL plan: in ``persist`` mode the output is
    rebuilt as ``createDataFrame(rdd, schema)`` on the JVM side, so its
    plan is a ``LogicalRDD`` leaf (as ``localCheckpoint`` gives), then
    persisted and tracked for :func:`release_pins`. Unlike ``localCheckpoint`` the RDD keeps its
    lineage, so a lost block recomputes. Without the cut, a loop that
    reads its previous output more than once per round grows its plan
    geometrically."""
    return _pin(df, eager=True)


def unpin(df: DataFrame) -> None:
    """Free one pinned frame now, once all its consumers have run (a
    build's intermediates), instead of at the next :func:`release_pins`."""
    _free(df.sparkSession, df if df.is_cached else _rdd_id(df))


def release_pins(spark) -> int:
    """Free every frame pinned for this session since the last release:
    unpersist the ``persist``-mode frames and the ``localCheckpoint``
    RDDs. Returns the number released. Call it only once the pinned
    frames' results are consumed."""
    pins = _PINNED.pop(_session_key(spark), [])
    for p in pins:
        try:
            _free(spark, p)
        except Exception:  # noqa: BLE001 — session may be stopping
            pass
    return len(pins)
