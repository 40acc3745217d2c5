"""Registered source/sink format queries + the streaming session-window
twin. Round-trips prove ingestion fidelity: table -> CSV/JSON/ORC on
local disk -> read back with an explicit schema -> must hash-match the
oracle reading the original Parquet. (The write is a deterministic
overwrite into a scratch dir, so re-runs are idempotent.)
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources import read_table, scan
from ..sources.formats import (
    read_csv,
    read_json,
    read_orc,
    write_csv,
    write_json,
    write_orc,
)
from ..streaming.pipeline import run_to_memory, stream_events

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"


def _scratch(kind: str, sf_dir: str) -> str:
    tag = sf_dir.strip("/").replace("/", "_")
    return os.path.join(tempfile.gettempdir(), f"spark_fmt_{kind}_{tag}")


_NATION_ORACLE = """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation
"""


@query("src_csv_roundtrip", _NATION_ORACLE)
def src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingest fidelity: nation -> CSV (header, pinned formats) ->
    explicit-schema read -> identical rows. src_jdbc_* analog for lake
    files (SURVEY.md §2.1): the schema is declared, never inferred."""
    nation = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long"),
        "n_name",
        F.col("n_regionkey").cast("long"),
    )
    path = _scratch("csv", sf_dir)
    write_csv(nation, path)
    return read_csv(spark, path, nation.schema)


@query("src_json_roundtrip", _NATION_ORACLE)
def src_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines ingest fidelity, same contract as the CSV twin."""
    nation = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long"),
        "n_name",
        F.col("n_regionkey").cast("long"),
    )
    path = _scratch("json", sf_dir)
    write_json(nation, path)
    return read_json(spark, path, nation.schema)


@query("src_orc_roundtrip", _NATION_ORACLE)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip — columnar self-describing sibling of Parquet."""
    nation = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long"),
        "n_name",
        F.col("n_regionkey").cast("long"),
    )
    path = _scratch("orc", sf_dir)
    write_orc(nation, path)
    return read_orc(spark, path)


@query(
    "sink_parquet_partitioned",
    """
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           round(o_totalprice, 2) AS total_price,
           concat_ws('-', month(o_orderdate), year(o_orderdate)) AS month_year
    FROM orders
    WHERE concat_ws('-', month(o_orderdate), year(o_orderdate)) = '3-1995'
    """,
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sink_parquet_partitioned + filter_month_bucket end-to-end
    (reference preprocess_and_store_parquets.py:243-249,101-102): derive
    month_year, write partitionBy('month_year') with dynamic overwrite,
    read ONE bucket back. The read's filter prunes to a single partition
    directory (the scan lists only month_year=3-1995) — the built-in
    replacement for the reference's per-bucket SQL templating."""
    from ..sources.writers import write_partitioned

    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.round("o_totalprice", 2).alias("total_price"),
        F.concat_ws("-", F.month("o_orderdate"), F.year("o_orderdate")).alias("month_year"),
    )
    path = _scratch("partitioned", sf_dir)
    write_partitioned(orders, path, partition_col="month_year")
    return (
        scan(spark, path)
        .filter(F.col("month_year") == "3-1995")
        .select("o_orderkey", "total_price", F.col("month_year").cast("string").alias("month_year"))
    )


@query("streaming_session_window", None)  # oracle aliased in registry (shares events_session_window)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming twin of events_session_window: watermarked
    30-minute-gap session windows drained with availableNow. Matches the
    batch oracle on static input — the session-merge state logic is the
    piece that needs the state store in continuous mode."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", _TS_FMT_SPARK).alias("session_start"),
            "n_events",
        )
    )
    return run_to_memory(agg, "complete", sf_dir=sf_dir)


@query(
    "src_schema_evolution",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           n_name,
           CAST(NULL AS VARCHAR) AS region_name,
           'v1' AS batch
    FROM nation
    UNION ALL
    SELECT CAST(n.n_nationkey AS BIGINT) AS n_nationkey,
           n.n_name,
           r.r_name AS region_name,
           'v2' AS batch
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: batch v1 was written without
    region_name, batch v2 added it. ``mergeSchema=true`` unions the file
    schemas and fills missing columns with null — the lake behavior that
    lets producers add columns without rewriting history. (Default reads
    take one file's schema, silently dropping the new column — pinned
    here as an explicit option, not an accident.)"""
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    base = _scratch("evolve", sf_dir)
    v1 = nation.select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        "n_name",
        F.lit("v1").alias("batch"),
    )
    v2 = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("n_nationkey").cast("long").alias("n_nationkey"),
            "n_name",
            F.col("r_name").alias("region_name"),
            F.lit("v2").alias("batch"),
        )
    )
    v1.write.mode("overwrite").parquet(base + "/batch=v1__part")
    v2.write.mode("overwrite").parquet(base + "/batch=v2__part")
    merged = scan(
        spark, base + "/batch=v1__part", base + "/batch=v2__part", mergeSchema="true"
    )
    return merged.select("n_nationkey", "n_name", "region_name", "batch")


@query(
    "src_binaryfile_ingest",
    """
    SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.bin' AS filename,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents WHERE doc_id < 50
    """,
)
def src_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-bytes ingestion via the binaryFile source — the entry path
    for multimodal corpora (images/audio land as opaque files, become
    (path, length, content) rows, then flow into the mapInPandas decode
    stages in operators/multimodal.py).

    The fixture materialization (50 small files from document text) is
    driver-side scaffolding, bounded and idempotent; the operator under
    test is the distributed binaryFile scan + per-file projection. At
    scale the scan parallelizes over files and never reads a byte twice;
    content fingerprints come out of the executors as md5 columns."""
    docs = (
        read_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 50)
        .select("doc_id", "text")
    )
    base = _scratch("binfiles", sf_dir)
    os.makedirs(base, exist_ok=True)
    for r in docs.collect():  # 50 rows: fixture setup, not the operator
        with open(os.path.join(base, f"doc_{r.doc_id}.bin"), "wb") as fh:
            fh.write(r.text.encode("utf-8"))
    bf = spark.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(base)
    return bf.select(
        F.regexp_extract("path", r"([^/]+)$", 1).alias("filename"),
        F.col("length").cast("long").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


_LOGPARSE_ORACLE = """
SELECT event_type, count(*) AS n,
       sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS sum_cents,
       count(DISTINCT user_id) AS n_users
FROM events WHERE value IS NOT NULL
GROUP BY event_type
"""


@query("src_text_logparse", _LOGPARSE_ORACLE)
def src_text_logparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text-log ingestion: events render to app-log lines
    (`2024-01-03T07:12:09 type=click user=42 value=3.20`), land as
    plain .text files, and come back through ``spark.read.text`` + one
    anchored ``regexp_extract`` per field — the unstructured-log front
    door every lake pipeline needs beside its CSV/JSON readers
    (SURVEY.md §2.1 src_jdbc_* analog). Parsing is a narrow JVM-side
    map (regex in codegen, no Python); malformed lines regex-extract to
    empty string and would cast to NULL rather than kill the job —
    the quarantine pattern ``test_corrupt_record_quarantine`` proves
    for CSV/JSON. Money re-aggregates as exact integer cents, proving
    the format string didn't lose precision; the hash-match against the
    pre-render oracle is the fidelity check end to end.
    """
    ev = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    lines = ev.select(
        F.format_string(
            "%s type=%s user=%d value=%.2f",
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"),
            F.col("event_type"),
            F.col("user_id"),
            F.col("value"),
        ).alias("value")
    )
    path = _scratch("logtxt", sf_dir)
    lines.write.mode("overwrite").text(path)
    pat = r"^(\S+) type=(\w+) user=(\d+) value=([0-9.]+)$"
    parsed = spark.read.text(path).select(
        F.regexp_extract("value", pat, 2).alias("event_type"),
        F.regexp_extract("value", pat, 3).cast("long").alias("user_id"),
        F.regexp_extract("value", pat, 4).cast("double").alias("value"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
            "sum_cents"
        ),
        F.countDistinct("user_id").alias("n_users"),
    )


@query("src_xml_roundtrip", _NATION_ORACLE)
def src_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingest fidelity (Spark 4 ``from_xml``): nation rows render to
    one XML record each, then parse back through a declared struct
    schema — the third leg of the semi-structured trio (JSON
    ``events_json_props``/``expr_variant_extract``, logs
    ``src_text_logparse``). Render and parse are both narrow JVM-side
    expressions; no Python, no shuffle. Feeds/EDI-style sources at
    100 TB parse per-scan-partition exactly like this.
    """
    nation = read_table(spark, sf_dir, "nation")
    xml = F.format_string(
        "<r><k>%d</k><n>%s</n><rk>%d</rk></r>",
        F.col("n_nationkey").cast("long"),
        F.col("n_name"),
        F.col("n_regionkey").cast("long"),
    )
    parsed = nation.select(
        F.from_xml(xml, "k BIGINT, n STRING, rk BIGINT").alias("s")
    )
    return parsed.select(
        F.col("s.k").alias("n_nationkey"),
        F.col("s.n").alias("n_name"),
        F.col("s.rk").alias("n_regionkey"),
    )
