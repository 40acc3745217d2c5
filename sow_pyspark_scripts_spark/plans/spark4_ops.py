"""Spark-4-native surface tier: the three engine capabilities Spark 4
added that a 100 TB lakehouse pipeline should expose — the VARIANT
semi-structured type (replaces schema-on-write ``from_json`` for open
JSON, the path the reference's ES sink implied for `props`-style
payloads), SQL recursive CTEs (hierarchy/BOM traversal the reference
pushed to its RDBMS — SURVEY.md §2 marks all pushed-down SQL as ours to
re-express), and the Python DataSource API (the modern, Arrow-batched
answer to the reference's JDBC source plumbing,
``sql_to_es_etl.py:76-82``).

Scale notes:
- VARIANT parses once into a binary-encoded tree; ``variant_get``
  path extraction is JVM-side (no Python boundary) and columnar, so
  extracting one field from petabytes of heterogeneous JSON does not
  pay string re-parsing per access the way repeated ``get_json_object``
  calls do;
- the recursive CTE's per-iteration increment is a join of the frontier
  (rows added last round) against the dimension — Catalyst plans each
  step; the frontier is small even when the dimension is not, which is
  exactly the BOM-explosion access pattern;
- the Python DataSource reader declares explicit input partitions, so a
  custom source parallelizes across executors like any file scan
  instead of funneling through one driver connection (the reference's
  single-partition JDBC read is the anti-pattern this replaces).
"""

from __future__ import annotations

from ..functions.det import r6
from ..functions.pin import pin as _pin_lazy, pin_eager as _pin_eager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources import read_table, scan

# ---------------------------------------------------------------------------
# expr_variant_extract — VARIANT semi-structured field access
# ---------------------------------------------------------------------------

_VARIANT_ORACLE = """
SELECT event_type,
       count(*) AS n,
       sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS sum_k,
       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
WHERE props IS NOT NULL
GROUP BY event_type
"""


@query("expr_variant_extract", _VARIANT_ORACLE)
def expr_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-schema JSON via the VARIANT type (Spark 4): ``parse_json``
    decodes each payload once into Spark's binary variant encoding, and
    ``variant_get`` extracts a typed path JVM-side. Against
    ``events_json_props``'s ``from_json`` (fixed schema declared
    up-front), VARIANT keeps fields the schema didn't anticipate —
    the right default for prop-bag columns that drift weekly — while
    staying columnar and whole-stage-codegen'd, with none of the
    per-access string re-parsing of chained ``get_json_object``. The
    aggregate is one map-side-combined hash agg on a 5-value key.
    """
    ev = read_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (
        ev.filter(F.col("props").isNotNull())
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


# ---------------------------------------------------------------------------
# sql_recursive_bom — WITH RECURSIVE hierarchy explosion
# ---------------------------------------------------------------------------

_BOM_SQL = """
WITH RECURSIVE bom AS (
  SELECT p_partkey AS pkey, 0 AS lvl FROM {part} WHERE p_partkey = 1
  UNION ALL
  SELECT p.p_partkey AS pkey, b.lvl + 1 AS lvl
  FROM bom b
  JOIN (SELECT 0 AS i UNION ALL SELECT 1 AS i) d ON true
  JOIN {part} p ON p.p_partkey = b.pkey * 2 + d.i
)
SELECT CAST(lvl AS BIGINT) AS lvl,
       count(*) AS n_parts,
       sum(pkey) AS sum_keys
FROM bom GROUP BY lvl
"""


@query("sql_recursive_bom", _BOM_SQL.format(part="part"))
def sql_recursive_bom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bill-of-materials explosion with a SQL recursive CTE (Spark 4's
    WITH RECURSIVE): part k's components are parts 2k and 2k+1 — a
    synthetic but structurally faithful assembly tree rooted at part 1,
    traversed to its leaves with per-level counts. This is the
    hierarchy-walk class of query the reference could only run by
    pushing SQL into SQL Server (SURVEY.md §3 E1 boundary); here the
    engine itself iterates, and each recursion step joins only the
    current frontier against the part dimension, so the per-step work
    tracks the frontier size, not the table. The child keys are
    generated by a 2-row constant cross (frontier x {0,1}) feeding an
    EQUI join on p_partkey — a hash join per step; the naive
    `ON p = k*2 OR p = k*2+1` formulation degenerates to a nested-loop
    compare of frontier x dimension every iteration (measured ~1.7x
    slower at sf0.1, and quadratic-in-dimension at 100 TB). The
    dimension is pruned to its join key and materialized BEFORE the
    recursion via a lazy ``localCheckpoint`` so the ~14 steps probe
    memory instead of re-scanning parquet (measured 3.8s→2.9s at sf0.1
    with .cache(); localCheckpoint gives the same block reuse WITHOUT
    parking an entry in the CacheManager forever — the r2 .cache() was
    never unpersisted and leaked across a long-lived session (ADVICE
    r2); checkpoint blocks are GC-cleaned with the DataFrame). The join
    itself is left unhinted: AQE broadcasts whichever side is small at
    runtime — the frontier at 100 TB, the key column locally. Levels
    are integer-exact.
    """
    pk = read_table(spark, sf_dir, "part").select("p_partkey").transform(_pin_lazy)
    pk.createOrReplaceTempView("__bom_part")
    return spark.sql(_BOM_SQL.format(part="__bom_part"))


# ---------------------------------------------------------------------------
# src_python_datasource — custom Python DataSource (Spark 4 API)
# ---------------------------------------------------------------------------

_PYDS_ROWS = 10_000
_PYDS_PARTS = 8

_PYDS_ORACLE = f"""
SELECT id % 10 AS bucket,
       count(*) AS n,
       min(md5(CAST(id AS VARCHAR))) AS min_tag
FROM range({_PYDS_ROWS}) t(id)
GROUP BY id % 10
"""


@query("src_python_datasource", _PYDS_ORACLE)
def src_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A user-defined table source via Spark 4's Python DataSource API:
    the reader declares 8 explicit input partitions, each generating its
    deterministic id-range independently on an executor — the pattern
    that replaces the reference's one-connection JDBC pull
    (``sql_to_es_etl.py:76-82``, which read the whole relation through
    a single partition and then repartition(300)'d it). A custom API
    client, message-queue poller, or object-store lister slots into the
    same two classes; the md5 tag makes the output value-checkable
    against the oracle's ``range()`` twin. The downstream agg is an
    ordinary hash aggregate — custom sources compose with Catalyst
    like any native scan.
    """
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    rows_per = _PYDS_ROWS // _PYDS_PARTS

    class _SynthReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(i) for i in range(_PYDS_PARTS)]

        def read(self, partition):
            import hashlib

            start = partition.value * rows_per
            for rid in range(start, start + rows_per):
                yield (rid, rid % 10, hashlib.md5(str(rid).encode()).hexdigest())

    class _SynthSource(DataSource):
        @classmethod
        def name(cls):
            return "synthetic_rows"

        def schema(self):
            return "id BIGINT, bucket BIGINT, tag STRING"

        def reader(self, schema):
            return _SynthReader()

    spark.dataSource.register(_SynthSource)
    df = spark.read.format("synthetic_rows").load()
    return df.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"), F.min("tag").alias("min_tag")
    )


# ---------------------------------------------------------------------------
# sql_udf_scalar — SQL-defined scalar function (CREATE FUNCTION ... RETURN)
# ---------------------------------------------------------------------------

_SQLUDF_ORACLE = """
SELECT l_returnflag,
       count(*) AS n,
       sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                AS BIGINT)) AS revenue_cents
FROM lineitem
GROUP BY l_returnflag
"""


@query("sql_udf_scalar", _SQLUDF_ORACLE)
def sql_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A scalar function defined IN SQL (Spark 4's ``CREATE FUNCTION ...
    RETURN <expr>``): business logic (`net_cents(price, discount)`)
    declared once at the SQL front door and reused across queries —
    extensibility without a Python UDF. Because the body is a SQL
    expression, Catalyst inlines it into the plan: the aggregate below
    whole-stage-codegens exactly as if the expression were written
    inline, i.e. this UDF costs NOTHING at 100 TB (compare
    ``udaf_geometric_mean``'s Arrow boundary, the price of opaque
    Python). Money folds to integer cents inside the function, so
    grouped sums are exact.
    """
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "__sqludf_lineitem"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION net_cents(p DOUBLE, d DOUBLE) "
        "RETURNS BIGINT RETURN CAST(floor(p * (1 - d) * 100 + 0.5) AS BIGINT)"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               count(*) AS n,
               sum(net_cents(l_extendedprice, l_discount)) AS revenue_cents
        FROM __sqludf_lineitem
        GROUP BY l_returnflag
        """
    )


# ---------------------------------------------------------------------------
# api_pandas_on_spark — pandas API running on the engine
# ---------------------------------------------------------------------------

_PS_ORACLE = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       floor(avg(o_totalprice) * 1e6 + 0.5) / 1e6 AS avg_price
FROM orders
GROUP BY o_orderpriority
"""


@query("api_pandas_on_spark", _PS_ORACLE)
def api_pandas_on_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pandas API on Spark (``pyspark.pandas``): a pandas-shaped
    groupby/agg whose execution is the same distributed plan every
    DataFrame query here compiles to — proof that a pandas-fluent user
    can drive this engine without learning the DataFrame API, and that
    the migration path from a laptop notebook to 100 TB is an import
    swap. The ps frame is backed by the parquet scan (no driver
    materialization); ``to_spark()`` hands back the logical plan, and
    the 6-dp half-up rounding happens in Spark expressions after the
    conversion so float policy matches the rest of the registry.
    """
    psdf = scan(spark, f"{sf_dir}/orders.parquet").pandas_api()
    g = (
        psdf.groupby("o_orderpriority")
        .agg(n_orders=("o_orderkey", "count"), avg_price=("o_totalprice", "mean"))
        .reset_index()
    )
    sdf = g.to_spark()
    return sdf.select(
        "o_orderpriority",
        F.col("n_orders").cast("long").alias("n_orders"),
        r6(F.col("avg_price")).alias("avg_price"),
    )


# ---------------------------------------------------------------------------
# sink_compact_small_files — small-files compaction rewrite
# ---------------------------------------------------------------------------

_COMPACT_ORACLE = """
SELECT event_id, user_id, event_type FROM events
"""


@query("sink_compact_small_files", _COMPACT_ORACLE)
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The small-files problem, solved as a query: a fragmented landing
    write (64 shards — what per-executor streaming micro-batches or the
    reference's repartition(count) row-per-file write,
    ``preprocess_and_store_parquets.py:245``, leave behind) is rewritten
    into a compacted layout via ``coalesce`` — a NARROW rebind of
    partitions, no shuffle — before the final write. Reading the
    compacted table back and hash-matching the original proves the
    rewrite is lossless. At 100 TB this is the nightly table-service
    job: scan cost drops with file count (fewer footer reads, larger
    sequential ranges), and `maxRecordsPerFile` bounds the other tail.
    ``test_compaction_reduces_file_count`` asserts the layout effect.
    """
    import os
    import tempfile

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    tag = sf_dir.strip("/").replace("/", "_")
    frag = os.path.join(tempfile.gettempdir(), f"spark_compact_frag_{tag}")
    compact = os.path.join(tempfile.gettempdir(), f"spark_compact_out_{tag}")
    ev.repartition(64).write.mode("overwrite").parquet(frag)
    # r9 (guide §6): the compacted file count targets a BYTE size
    # (~256 MB/file, the guide's 128 MB-1 GB band), not a constant —
    # coalesce(2) was a fixture-scale tune that would under-parallelize
    # a 100 TB nightly compaction to two writer tasks. Derived from the
    # fragment bytes actually written, sized through the Hadoop
    # FileSystem of the path (local disk, HDFS or an object store alike):
    # sub-256 MB inputs compact to one file (within the <=2-file layout
    # assertion of test_compaction_reduces_file_count); a 100 TB table
    # gets bytes/256 MB writers.
    hpath = spark._jvm.org.apache.hadoop.fs.Path(frag)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    frag_bytes = fs.getContentSummary(hpath).getLength()
    n_out = max(1, (frag_bytes + 256 * 1024 * 1024 - 1) // (256 * 1024 * 1024))
    scan(spark, frag).coalesce(int(n_out)).write.mode(
        "overwrite"
    ).parquet(compact)
    return scan(spark, compact)


# ---------------------------------------------------------------------------
# sql_parameterized — named-parameter SQL front door
# ---------------------------------------------------------------------------

_PARAM_PRIORITY = "1-URGENT"
_PARAM_MIN_PRICE = 150000.0

_PARAM_ORACLE = f"""
SELECT o_orderpriority,
       count(*) AS n,
       sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS total_cents
FROM orders
WHERE o_orderpriority = '{_PARAM_PRIORITY}' AND o_totalprice >= {_PARAM_MIN_PRICE}
GROUP BY o_orderpriority
"""


@query("sql_parameterized", _PARAM_ORACLE)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (``spark.sql(query, args={...})``): the
    injection-safe front door for templated production queries — the
    engine binds typed literals instead of the string-concatenated SQL
    the reference shipped to its RDBMS (the ``'{{month_bucket}}'``
    substitution at ``preprocess_and_store_parquets.py:101-102``).
    Bound literals constant-fold like any literal, so the predicate
    still pushes into the parquet scan; plan shape is identical to the
    hand-written query, but the text is reusable and cache-friendly.
    """
    read_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "__param_orders"
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n,
               sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS total_cents
        FROM __param_orders
        WHERE o_orderpriority = :prio AND o_totalprice >= :min_price
        GROUP BY o_orderpriority
        """,
        args={"prio": _PARAM_PRIORITY, "min_price": _PARAM_MIN_PRICE},
    )


# ---------------------------------------------------------------------------
# reshape_transpose — DataFrame.transpose (rows <-> columns)
# ---------------------------------------------------------------------------

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _tp_cell(metric_sql: str, et: str) -> str:
    return f"(SELECT {metric_sql} FROM events WHERE event_type = '{et}') AS {et}"


_TRANSPOSE_ORACLE = f"""
SELECT 'n_events' AS key,
       {", ".join(_tp_cell("count(*)", et) for et in _EVENT_TYPES)}
UNION ALL
SELECT 'n_users' AS key,
       {", ".join(_tp_cell("count(DISTINCT user_id)", et) for et in _EVENT_TYPES)}
"""


@query("reshape_transpose", _TRANSPOSE_ORACLE)
def reshape_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.transpose`` (Spark 4): flip a metrics-by-group
    aggregate into group-by-metrics layout — the report-shaping step
    (one column per event type, one row per metric) that previously
    required a pivot-after-unpivot dance. Transpose is legal only on
    a SMALL relation (its column count becomes the former row count),
    which is exactly the post-aggregation grain here: the event stream
    collapses to 5 rows first, and the transpose touches nothing
    bigger. The metric values share one integer type, so the flipped
    columns stay exact longs.
    """
    ev = read_table(spark, sf_dir, "events")
    wide = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )
    return wide.transpose()


# ---------------------------------------------------------------------------
# agg_listagg_ordered — ordered string aggregation (LISTAGG)
# ---------------------------------------------------------------------------

_LISTAGG_ORACLE = """
SELECT r.r_name AS region,
       count(*) AS n_nations,
       string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
"""


@query("agg_listagg_ordered", _LISTAGG_ORACLE)
def agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation via LISTAGG ... WITHIN GROUP (Spark
    4.0's ANSI string-agg): the denormalized "members of this group"
    report column (warehouse exports, alert payloads, BI labels). The
    WITHIN GROUP ordering makes the concatenation deterministic — an
    unordered collect would hash-mismatch across engines and across
    runs, the exact trap ``sort_array(collect_list(...))`` had to dodge
    pre-4.0. Output strings are bounded by group cardinality;
    aggregate state is the member list, so this belongs on
    post-aggregation or dimension grain, not raw facts.
    """
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    nation.createOrReplaceTempView("__la_nation")
    region.createOrReplaceTempView("__la_region")
    return spark.sql(
        """
        SELECT r.r_name AS region,
               count(*) AS n_nations,
               listagg(n.n_name, ',') WITHIN GROUP (ORDER BY n.n_name)
                   AS nations
        FROM __la_nation n JOIN __la_region r
          ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
        """
    )


@query(
    "sql_lateral_topn",
    """
    SELECT r_name, t.n_name, t.cnt
    FROM region, LATERAL (
        SELECT n_name, count(*) AS cnt
        FROM nation JOIN customer ON c_nationkey = n_nationkey
        WHERE n_regionkey = r_regionkey
        GROUP BY n_name ORDER BY cnt DESC, n_name LIMIT 2
    ) t
    """,
)
def sql_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL derived table with LIMIT: for each region, the
    top-2 nations by customer count — the SQL-standard formulation of
    per-group top-N that Spark's DecorrelateInnerQuery rewrites into a
    join + per-partition rank (no per-row re-execution), proving the
    lateral front door plans as scalably as the explicit
    `win_topn_per_group` window form.

    The outer side is the 5-row region dim, so even a naive strategy is
    bounded; what the plan must NOT contain is a CartesianProduct of
    fact-scale inputs (hygiene-swept like every query)."""
    for t in ("region", "nation", "customer"):
        read_table(spark, sf_dir, t).createOrReplaceTempView(f"lat_{t}")
    return spark.sql(
        """
        SELECT r_name, t.n_name, t.cnt
        FROM lat_region, LATERAL (
            SELECT n_name, count(*) AS cnt
            FROM lat_nation JOIN lat_customer ON c_nationkey = n_nationkey
            WHERE n_regionkey = r_regionkey
            GROUP BY n_name ORDER BY cnt DESC, n_name LIMIT 2
        ) t
        """
    )
