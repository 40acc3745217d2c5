"""SparkSession factory with the engine's correctness-bearing configuration.

The reference pins UTC on driver+executors and SQL session timezone, and
enables case sensitivity (reference ``preprocess_and_store_parquets.py:40-56``);
it hand-tunes parallelism with ``repartition(300/120/60)``
(``sql_to_es_etl.py:84``, ``preprocess_and_store_parquets.py:176``,
``snowflake_to_es_etl.py:232``). Here the timezone/case confs are kept
verbatim (they change results), while manual parallelism is replaced by
AQE (adaptive coalescing + skew-join handling) which re-plans from
runtime statistics — the scalable equivalent on a 1000-executor cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# A pinned "now" for deterministic tests/oracles: the reference's TAT
# expression falls back to getdate()/current_timestamp()
# (sql_to_es_etl.py:62-64); a moving now can never hash-match an oracle,
# so the engine threads an explicit literal through instead.
PINNED_NOW = "2002-06-01 00:00:00"

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def _driver_mem() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else 32g capped at half the host's
    physical memory. G1 grows the heap toward its maximum under
    allocation pressure, so a maximum above RAM gets the JVM OOM-killed
    instead of collected (seen: a 32g-max test session reached 13.7 GB
    RSS on a 15 GB host and was killed when a second JVM started)."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    half_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**31
    return f"{max(1, min(32, half_gb))}g"


def get_spark(
    app_name: str = "sow_pyspark_scripts_spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Correctness-bearing confs (mirrors reference ``exec_session_conf``):
      - ``spark.sql.session.timeZone=UTC`` — all timestamp arithmetic in UTC
      - ``spark.sql.caseSensitive=true`` — column resolution semantics
    Scale-bearing confs:
      - AQE on (coalesce partitions, skew-join splitting) — replaces the
        reference's hand-set repartition(300/120/60)
      - Arrow on — vectorized Python <-> JVM transfer for the few
        pandas_udf code paths (text lemmatization, multimodal decode)
      - parquet filter pushdown + vectorized reader on (defaults, pinned
        here so they are contract, not accident)
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.caseSensitive", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r8 (guide §2.2/§2.5): AQE's coalescing floor
        # (minPartitionSize, default 1 MB) is sized for I/O-bound
        # shuffles; on compute-heavy small-byte relations (crypto-hash
        # vote aggregates, banded-DP verify, pair generation over
        # fingerprints) it merges every post-shuffle stage to ONE task
        # — measured: the simhash vote aggregate ran 4.8s single-task
        # at sf0.1 while 31 cores idled. parallelismFirst (default on)
        # already says "prefer parallelism over target size"; lowering
        # the byte floor lets that hold for sub-MB stages too
        # (dedup_simhash_hamming 8.3s -> 1.0s). At production scale
        # post-shuffle partitions exceed 1 MB and the setting is inert;
        # it is a byte threshold, not a core-count tune.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # the events fixture stores ts as parquet TIMESTAMP(NANOS), which
        # Spark refuses by default; read as long and convert at the source
        # layer (sources/parquet.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local[N] runs all N task threads inside the driver JVM: size the
        # heap for N concurrent tasks' execution memory, not for a thin
        # cluster driver (8g across 32 threads = ~100 MB/task -> GC thrash
        # and shuffle spill by the tail of a long bench run)
        .config("spark.driver.memory", _driver_mem())
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
