"""Parquet table source layer.

The reference reads whole relations over single-partition JDBC with
full query pushdown (reference ``sql_to_es_etl.py:76-82``,
``snowflake_to_es_etl.py:89-99``). The engine's sources are Parquet
directories; Catalyst gives predicate pushdown + column pruning to the
scan natively, so the "pushed query" becomes ordinary DataFrame ops on
top of ``read_table``.

``scan`` is the engine's only Parquet batch read path: ``read_table``,
the stored ANN/doc index tables, the staged stream sources and every
scratch read-back go through it. A read without a schema runs a Spark
job to merge the Parquet footers; ``scan`` remembers each path's
inferred schema, keyed by a listing fingerprint of the files and the
confs that change the inferred types, so a rebuilt query over unchanged
files plans with no job at all. Only metadata is reused, never data.

``register_tables`` is the SQL front door (reference
``exec_temp_view_sql``, ``preprocess_and_store_parquets.py:216,226-230``):
every fixture table becomes a temp view so ``spark.sql(...)`` works
against the same names the DuckDB oracle uses.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .staging import fingerprint

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Session confs that change the schema Spark infers from the same files.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
)
# absolute path(s) -> (key, inferred schema); a miss replaces the entry.
# No lock: two racing misses cost one extra inference at worst, and an
# entry whose files changed during its inference keeps the key of the
# older listing, which no later read matches.
_schemas: dict[tuple[str, ...], tuple[tuple, StructType]] = {}


def scan(spark: SparkSession, *paths: str, **options: str) -> DataFrame:
    """``spark.read.parquet(*paths, **options)``, with the inferred
    schema memoised per path. The key is the listing fingerprint of
    every path (``sources.staging.fingerprint``), the schema-bearing
    session confs and the reader options; on a hit the read carries the
    remembered schema and plans with no footer-merge job. A path that
    ``os.stat`` cannot see (a remote store, a missing dir) is read as is."""
    names = tuple(os.path.abspath(p) for p in paths)
    try:
        listing = tuple(fingerprint(p) for p in names)
    except OSError:
        return spark.read.parquet(*paths, **options)
    confs = tuple(spark.conf.get(c) for c in _SCHEMA_CONFS)
    key = (listing, confs, tuple(sorted(options.items())))
    hit = _schemas.get(names)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(*paths, **options)
    df = spark.read.parquet(*paths, **options)
    _schemas[names] = (key, df.schema)
    return df


def ensure_conf(spark: SparkSession, key: str, value: str) -> None:
    """Set a session conf only when it differs: a write on every read
    would race other threads planning in the same session."""
    if spark.conf.get(key) != value:
        spark.conf.set(key, value)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Column pruning and filter pushdown are
    Catalyst's job — callers express plain selects/filters on the result."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # The caller's session may not have gone through our factory (e.g. the
    # driver harness): pin the correctness-bearing runtime confs here.
    # UTC matters because events.ts becomes a local-tz TIMESTAMP after the
    # nanos conversion — date_format/unix_timestamp outputs would shift
    # under a non-UTC session and break oracle parity.
    ensure_conf(spark, "spark.sql.session.timeZone", "UTC")
    if name == "events":
        # must be set before planning the scan
        ensure_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    df = scan(spark, os.path.join(sf_dir, f"{name}.parquet"))
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # fixture written as parquet TIMESTAMP(NANOS): with
        # spark.sql.legacy.parquet.nanosAsLong it arrives as epoch-nanos
        # long — truncate to a microsecond timestamp (matches DuckDB's
        # ns->us cast).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Any TIMESTAMP_NTZ column (fixtures written with
    # isAdjustedToUTC=false) is normalized to TIMESTAMP_LTZ — NTZ rejects
    # unix_micros/to_unix_timestamp and the two types never coerce in
    # comparisons, so the engine speaks one timestamp type throughout.
    # With the session timezone pinned UTC the cast is the identity on
    # the wall-clock values the oracle sees.

    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    if ntz:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df


def read_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(read_table(spark, sf_dir, n) for n in names)


def spread(df: DataFrame, n: int | None = None) -> DataFrame:
    """Round-robin repartition to engine parallelism, for use directly
    before CPU-heavy narrow stages (hashing, shingling, regex chains,
    Arrow UDFs) — SKIPPED when the input is already parallel.

    Parquet can't split below a row group, so a single-row-group input
    file pins the whole map stage to one core no matter how many
    executors exist. The reference hit the same cliff with
    single-partition JDBC reads and fixed it the same way
    (``repartition(300/120/60)`` — ``sql_to_es_etl.py:84``,
    ``preprocess_and_store_parquets.py:176``). The shuffle moves raw
    input once, cheap relative to the compute it unlocks.

    On a many-file 100 TB table the scan is already parallel and the
    shuffle would be pure overhead, so the repartition is gated (r9,
    VERDICT r8 task #3), in two steps:

    1. If the input's optimized plan already contains a
       shuffle-inducing operator (join, aggregate, window, distinct,
       repartition, sort), its output is already laid out at the
       session's shuffle-partition count — skip. This check reads the
       LOGICAL plan only: calling ``.rdd`` here would force AQE to
       EXECUTE the upstream query stages to finalize the physical plan
       (measured: the cluster composites ran their candidate semi-join
       twice, +1-3s each, when the first version of this gate asked the
       RDD for its partition count).
    2. Otherwise (a narrow chain over a scan — the only shape the
       measured spread call sites feed) the RDD partition count is
       planning-only and cheap: skip when it is already at or above
       half the target."""
    import re

    target = n or df.sparkSession.sparkContext.defaultParallelism
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        if re.search(
            r"\b(Join|Aggregate|Window|Deduplicate|"
            r"RepartitionByExpression)\b|\bRepartition \d+, true\b"
            r"|\bSort \[.*\], true\b",
            plan,
        ):
            return df
        if df.rdd.getNumPartitions() * 2 >= target:
            return df
    except Exception:  # noqa: BLE001 — unplannable input: spread anyway
        pass
    return df.repartition(target)


def register_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Create temp views for SQL-entry queries (`spark.sql` front door)."""
    for n in names:
        read_table(spark, sf_dir, n).createOrReplaceTempView(n)
