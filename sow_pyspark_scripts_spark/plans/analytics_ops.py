"""Analytics tier: multi-resolution rollups, CDC changelog application,
frequency/mode/regression aggregates, and training-corpus chunking /
data-mixing — operators a 100 TB warehouse + training-data pipeline runs
daily that the reference's surface (SURVEY.md §2) implies but never
spells out.

Scale notes baked into each builder:
- the hypertable rollup computes the coarse resolution FROM the fine one
  (cascade), so the 100 TB raw table is scanned exactly once;
- heavy hitters is two hash aggregates + a broadcast of one scalar — no
  global sort, no single-partition window;
- chunking is pure array arithmetic inside whole-stage codegen (split /
  sequence / slice / explode) — no Python boundary for a per-token op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.det import cos_grid_sql, d2_grid_sql, mean_grid, mean_grid_sql, quant
from ..registry import query
from ..sources import read_table, scan

_M6EV = mean_grid_sql("e.v")

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"

# ---------------------------------------------------------------------------
# events_multires_rollup — hypertable-style cascading time rollup
# ---------------------------------------------------------------------------


@query(
    "events_multires_rollup",
    f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket,
             event_type,
             count(*) AS n,
             sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS sum_value
      FROM events GROUP BY 1, 2
    ), daily AS (
      SELECT date_trunc('day', bucket) AS bucket,
             event_type,
             CAST(sum(n) AS BIGINT) AS n,
             sum(sum_value) AS sum_value
      FROM hourly GROUP BY 1, 2
    )
    SELECT 'hour' AS resolution, strftime(bucket, '{_TS_FMT_DUCK}') AS bucket,
           event_type, n, CAST(round(sum_value, 2) AS DOUBLE) AS sum_value
    FROM hourly
    UNION ALL
    SELECT 'day' AS resolution, strftime(bucket, '{_TS_FMT_DUCK}') AS bucket,
           event_type, n, CAST(round(sum_value, 2) AS DOUBLE) AS sum_value
    FROM daily
    """,
)
def events_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution (hour + day) rollup of the event stream with ONE
    scan of the raw table: the hourly aggregate is MATERIALIZED (written
    to parquet, the continuous-aggregate pattern of hypertables), and the
    daily aggregate is computed from the materialized hourly rollup, not
    from raw events. Referencing the hourly DataFrame twice without
    materializing would silently recompute it — two full raw scans at
    100 TB; the explicit write is what makes the cascade real. Each
    coarser resolution reads only the orders-of-magnitude-smaller
    previous rollup. Sums travel as decimal(18,6) so the cascaded total
    is exactly the direct total (float association would diverge between
    the two paths). Generalizes the reference's single month-bucket
    granularity (preprocess_and_store_parquets.py:101-109).
    """
    import os
    import tempfile

    events = read_table(spark, sf_dir, "events")
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    rollup_path = os.path.join(tempfile.gettempdir(), f"spark_rollup_hourly_{tag}")
    (
        events.groupBy(F.date_trunc("hour", "ts").alias("bucket"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round("value", 6).cast("decimal(18,6)")).alias("sum_value"),
        )
        .write.mode("overwrite")
        .parquet(rollup_path)
    )
    hourly = scan(spark, rollup_path)
    daily = (
        hourly.groupBy(
            F.date_trunc("day", "bucket").alias("bucket"), "event_type"
        ).agg(F.sum("n").alias("n"), F.sum("sum_value").alias("sum_value"))
    )

    def _present(df: DataFrame, res: str) -> DataFrame:
        return df.select(
            F.lit(res).alias("resolution"),
            F.date_format("bucket", _TS_FMT_SPARK).alias("bucket"),
            "event_type",
            "n",
            F.round("sum_value", 2).cast("double").alias("sum_value"),
        )

    return _present(hourly, "hour").unionByName(_present(daily, "day"))


# ---------------------------------------------------------------------------
# cdc_apply_changelog — collapse an ordered changelog into final state
# ---------------------------------------------------------------------------


@query(
    "cdc_apply_changelog",
    f"""
    WITH ranked AS (
      SELECT user_id, event_type, value, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id,
           event_type AS last_type,
           round(value, 2) AS last_value,
           strftime(ts, '{_TS_FMT_DUCK}') AS last_ts
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    """,
)
def cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a CDC changelog: each event is an upsert for its user_id
    except 'error' which acts as a tombstone/delete; the final state is
    the latest non-deleted row per key. This is the engine-native form of
    the reference's ES upsert sink (snowflake_to_es_etl.py:234-241,
    es.write.operation=upsert) — last-writer-wins by (ts, event_id) via
    one row_number window partitioned by the merge key, so it shuffles
    once on user_id and never single-partitions. At 100 TB the same plan
    is the standard MERGE-free snapshot compaction.
    """
    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.col("event_type").alias("last_type"),
            F.round("value", 2).alias("last_value"),
            F.date_format("ts", _TS_FMT_SPARK).alias("last_ts"),
        )
    )


# ---------------------------------------------------------------------------
# agg_mode_per_group — modal value per group (count + rank)
# ---------------------------------------------------------------------------


@query(
    "agg_mode_per_group",
    """
    WITH counted AS (
      SELECT c_mktsegment, o_orderpriority, count(*) AS n,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY count(*) DESC, o_orderpriority ASC) AS rk
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment, o_orderpriority
    )
    SELECT c_mktsegment, o_orderpriority AS mode_priority, n
    FROM counted WHERE rk = 1
    """,
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group, the two-phase way that scales: hash
    aggregate (segment, priority) first — map-side partial combine does
    the heavy lifting — then a row_number window over the tiny aggregated
    relation (|segments|×|priorities| rows) picks the most frequent
    priority, ties broken deterministically by priority asc. The window's
    partitions are group keys, so no single-partition stage exists even
    when the raw table is 100 TB.
    """
    orders = read_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    counted = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("n").desc(), F.col("o_orderpriority").asc()
    )
    return (
        counted.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("c_mktsegment", F.col("o_orderpriority").alias("mode_priority"), "n")
    )


# ---------------------------------------------------------------------------
# agg_heavy_hitters — frequency threshold against the global total
# ---------------------------------------------------------------------------


@query(
    "agg_heavy_hitters",
    """
    SELECT l_partkey, count(*) AS n
    FROM lineitem
    GROUP BY l_partkey
    HAVING count(*) * 10000 >= 2 * (SELECT count(*) FROM lineitem)
    """,
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters: part keys appearing in at least 0.02% of all line
    items. Two hash aggregates (per-key count; global count) and a
    broadcast nested-loop of ONE scalar row onto the per-key counts — the
    threshold compare is integer arithmetic (n * 10000 >= 2 * total), no
    floats, no sort, no window-over-everything. At 100 TB both aggregates
    are map-side-combinable single shuffles of (key, long).
    """
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey")
    per_key = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    total = li.agg(F.count(F.lit(1)).alias("total"))
    return (
        per_key.crossJoin(F.broadcast(total))
        .where(F.col("n") * 10000 >= 2 * F.col("total"))
        .select("l_partkey", "n")
    )


# ---------------------------------------------------------------------------
# agg_corr_regression — correlation / covariance / OLS per group
# ---------------------------------------------------------------------------


@query(
    "agg_corr_regression",
    """
    SELECT l_returnflag,
           count(*) AS n,
           round(corr(l_extendedprice, l_quantity), 6) AS price_qty_corr,
           round(covar_samp(l_extendedprice, l_quantity), 4) AS price_qty_covar,
           round(regr_slope(l_extendedprice, l_quantity), 6) AS ols_slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS ols_intercept
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_corr_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics per return flag: Pearson correlation, sample
    covariance, and the OLS slope/intercept of extendedprice on quantity
    — all single-pass co-moment aggregates (built-in corr / covar_samp /
    regr_*), so the whole thing is one map-side-combinable hash aggregate
    per group: the co-moments merge associatively across 1000 executors
    exactly like a sum does. The feature-correlation screen every
    training-data pipeline runs before fitting anything.
    """
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("price_qty_corr"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 4).alias(
            "price_qty_covar"
        ),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6).alias("ols_slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias(
            "ols_intercept"
        ),
    )


# ---------------------------------------------------------------------------
# text_chunk_windows — overlapping token-window chunking
# ---------------------------------------------------------------------------

_CHUNK_SIZE = 30
_CHUNK_STRIDE = 20


@query(
    "text_chunk_windows",
    f"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    ), c AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) <= {_CHUNK_SIZE} THEN 1
                  ELSE CAST(ceil((len(toks) - {_CHUNK_SIZE}) / {_CHUNK_STRIDE}.0)
                            AS BIGINT) + 1 END AS nc
      FROM t
    ), e AS (
      SELECT doc_id, toks, unnest(range(0, nc)) AS i FROM c
    )
    SELECT doc_id, CAST(i AS INT) AS chunk_id,
           array_to_string(
             toks[i*{_CHUNK_STRIDE}+1 : i*{_CHUNK_STRIDE}+{_CHUNK_SIZE}], ' '
           ) AS chunk_text,
           CAST(len(toks[i*{_CHUNK_STRIDE}+1 : i*{_CHUNK_STRIDE}+{_CHUNK_SIZE}])
                AS INT) AS n_tokens
    FROM e
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunking (size 30 tokens, stride 20) —
    how a training/RAG pipeline splits long documents into model-sized
    pieces with context overlap. Entirely native array arithmetic:
    split → sequence(0, n_chunks-1) → explode → slice → array_join, all
    inside whole-stage codegen with zero Python and zero shuffle (explode
    is narrow); at 100 TB this is a pure map stage that scales linearly
    with input bytes. Extends the reference's batch/NLP reshaping tier
    (preprocess_and_store_parquets.py:144-160) with the chunking op it
    delegated to the external DocPreProcess module.
    """
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size("toks")
    n_chunks = F.when(n <= _CHUNK_SIZE, F.lit(1)).otherwise(
        F.ceil((n - F.lit(_CHUNK_SIZE)) / F.lit(float(_CHUNK_STRIDE))).cast("bigint")
        + 1
    )
    chunk = F.slice(
        F.col("toks"), F.col("i") * _CHUNK_STRIDE + 1, F.lit(_CHUNK_SIZE)
    )
    return (
        docs.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias("i"),
        )
        .select(
            "doc_id",
            F.col("i").alias("chunk_id"),
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# corpus_domain_mix — data-mixture weights per source domain
# ---------------------------------------------------------------------------


@query(
    "corpus_domain_mix",
    """
    WITH per_source AS (
      SELECT source,
             count(*) AS docs,
             sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT sum(tokens) AS total_tokens, sum(sqrt(tokens)) AS sqrt_norm
      FROM per_source
    )
    SELECT source, docs, tokens,
           round(tokens / total_tokens, 6) AS token_share,
           round(sqrt(tokens) / sqrt_norm, 6) AS mix_weight
    FROM per_source, tot
    """,
)
def corpus_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data mixture weighting: per source domain, document and
    whitespace-token counts, the raw token share, and a sqrt-damped
    sampling weight (w_s ∝ √tokens_s, renormalized — the standard
    temperature-style reweighting that keeps small domains represented).
    Token totals are exact integers from one hash aggregate over a pure
    map stage; the normalizing constants are ONE broadcast scalar row, so
    the whole query is a single shuffle of |sources| rows regardless of
    corpus size.
    """
    docs = read_table(spark, sf_dir, "documents")
    per_source = (
        docs.select(
            "source", F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tok")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tok").alias("tokens"),
        )
    )
    tot = per_source.agg(
        F.sum("tokens").alias("total_tokens"),
        F.sum(F.sqrt("tokens")).alias("sqrt_norm"),
    )
    return per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "docs",
        "tokens",
        F.round(F.col("tokens") / F.col("total_tokens"), 6).alias("token_share"),
        F.round(F.sqrt("tokens") / F.col("sqrt_norm"), 6).alias("mix_weight"),
    )


# ---------------------------------------------------------------------------
# agg_countmin_sketch — deterministic count-min frequency estimation
# ---------------------------------------------------------------------------

_CM_P = 2147483647  # Mersenne prime 2^31-1
_CM_W = 512  # buckets per row
_CM_HASHES = ((0, 1099087573, 98764321), (1, 1847591057, 54321779), (2, 2059194269, 12345701))


def _cm_values_sql() -> str:
    return ", ".join(f"({j}, {a}, {b})" for j, a, b in _CM_HASHES)


@query(
    "agg_countmin_sketch",
    f"""
    WITH hashed AS (
      SELECT l_partkey AS k, j,
             ((a * l_partkey + b) % {_CM_P}) % {_CM_W} AS bucket
      FROM lineitem CROSS JOIN (VALUES {_cm_values_sql()}) AS h(j, a, b)
    ), sketch AS (
      SELECT j, bucket, count(*) AS c FROM hashed GROUP BY j, bucket
    ), exact AS (
      SELECT l_partkey AS k, count(*) AS exact_n FROM lineitem GROUP BY l_partkey
    ), probes AS (
      SELECT DISTINCT k, j, bucket FROM hashed
    )
    SELECT e.k AS l_partkey, e.exact_n,
           CAST(min(s.c) AS BIGINT) AS cm_est
    FROM exact e
    JOIN probes p ON p.k = e.k
    JOIN sketch s ON s.j = p.j AND s.bucket = p.bucket
    GROUP BY e.k, e.exact_n
    """,
)
def agg_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch with FIXED integer hash functions (d=3 rows,
    w=512 buckets): build the sketch as one hash aggregate over the
    3-way-exploded (row, bucket) pairs — map-side combine collapses each
    partition to ≤ d·w cells, so the shuffle carries sketch cells, not
    rows, exactly how a 1000-executor sketch merge behaves. Each key's
    estimate is the min over its d bucket counts, read back by joining
    the BROADCAST sketch (≤ 1536 rows regardless of data size) onto the
    distinct keys. Pure integer arithmetic end-to-end, so the estimate is
    bit-identical across engines and the oracle checks values, not just
    bounds; the exact per-key count rides along (cm_est >= exact_n is the
    sketch's guarantee, asserted in tests).
    """
    li = read_table(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("k"))
    hashes = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (((F.lit(a) * F.col("k") + F.lit(b)) % _CM_P) % _CM_W).alias("bucket"),
            )
            for j, a, b in _CM_HASHES
        ]
    )
    hashed = li.select("k", F.explode(hashes).alias("h")).select(
        "k", F.col("h.j").alias("j"), F.col("h.bucket").alias("bucket")
    )
    sketch = hashed.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("c"))
    exact = li.groupBy("k").agg(F.count(F.lit(1)).alias("exact_n"))
    probes = hashed.distinct()
    return (
        probes.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("k")
        .agg(F.min("c").alias("cm_est"))
        .join(exact, "k")
        .select(F.col("k").alias("l_partkey"), "exact_n", "cm_est")
    )


# ---------------------------------------------------------------------------
# join_partition_pruned_dpp — dynamic partition pruning over a
# partitioned fact table
# ---------------------------------------------------------------------------


@query(
    "join_partition_pruned_dpp",
    """
    WITH fact AS (
      SELECT o_orderkey, round(o_totalprice, 2) AS total_price,
             month(o_orderdate) || '-' || year(o_orderdate) AS month_year,
             year(o_orderdate) AS yr
      FROM orders
    )
    SELECT month_year, count(*) AS n, round(sum(total_price), 2) AS revenue
    FROM fact WHERE yr = 1995
    GROUP BY month_year
    """,
)
def join_partition_pruned_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is materialized
    partitionBy('month_year') (the reference's per-month parquet layout,
    preprocess_and_store_parquets.py:243-249); the months-of-1995
    dimension is only known after filtering the dim side, so Catalyst
    injects a runtime `dynamicpruning` subquery that reuses the dim's
    broadcast to list which partition DIRECTORIES to scan — at 100 TB the
    fact scan touches 12 of ~90 month partitions and never reads the
    rest. The plan contract asserts the dynamicpruning expression is
    present; the oracle is the plain filtered aggregate.
    """
    import os
    import tempfile

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total_price"),
        F.concat_ws("-", F.month("o_orderdate"), F.year("o_orderdate")).alias(
            "month_year"
        ),
    )
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    path = os.path.join(tempfile.gettempdir(), f"spark_dpp_fact_{tag}")
    orders.write.mode("overwrite").partitionBy("month_year").parquet(path)
    # explicit schema: an all-empty write leaves no files to infer from
    # (an empty ingest day must not kill the job)
    fact = spark.read.schema(orders.schema).parquet(path)
    months_1995 = (
        read_table(spark, sf_dir, "orders")
        .select(
            F.concat_ws("-", F.month("o_orderdate"), F.year("o_orderdate")).alias("m"),
            F.year("o_orderdate").alias("yr"),
        )
        .distinct()
        .filter(F.col("yr") == 1995)
    )
    return (
        fact.join(months_1995, fact.month_year == months_1995.m)
        .groupBy("month_year")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("total_price"), 2).alias("revenue"),
        )
        .select(F.col("month_year").cast("string").alias("month_year"), "n", "revenue")
    )


# ---------------------------------------------------------------------------
# ml_kmeans_lloyd — iterative k-means over the embedding table
# ---------------------------------------------------------------------------

_KM_K = 4  # seeds: vec_id 0..3


@query(
    "ml_kmeans_lloyd",
    f"""
    WITH emb AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ), cent1 AS (
      SELECT vec_id AS cluster, pos, v AS c FROM emb WHERE vec_id < {_KM_K}
    ), d1 AS (
      SELECT e.vec_id, c.cluster,
             {d2_grid_sql('e.v', 'c.c')} AS dist
      FROM emb e JOIN cent1 c ON e.pos = c.pos
      GROUP BY e.vec_id, c.cluster
    ), a1 AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
        FROM d1) WHERE rn = 1
    ), cent2 AS (
      SELECT a.cluster, e.pos, {_M6EV} AS c
      FROM emb e JOIN a1 a ON e.vec_id = a.vec_id
      GROUP BY a.cluster, e.pos
    ), d2 AS (
      SELECT e.vec_id, c.cluster,
             {d2_grid_sql('e.v', 'c.c')} AS dist
      FROM emb e JOIN cent2 c ON e.pos = c.pos
      GROUP BY e.vec_id, c.cluster
    ), a2 AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
        FROM d2) WHERE rn = 1
    ), cent3 AS (
      SELECT a.cluster, e.pos, {_M6EV} AS c
      FROM emb e JOIN a2 a ON e.vec_id = a.vec_id
      GROUP BY a.cluster, e.pos
    )
    SELECT s.cluster, s.n_members,
           floor(sqrt(CAST(sum(CAST(floor(c.c * 1000000.0 + 0.5) AS BIGINT)
                             * CAST(floor(c.c * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE))
                 + 0.5) / 1000000.0 AS centroid_norm
    FROM (SELECT cluster, count(*) AS n_members FROM a2 GROUP BY cluster) s
    JOIN cent3 c ON c.cluster = s.cluster
    GROUP BY s.cluster, s.n_members
    """,
)
def ml_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (Lloyd's algorithm, K=4 seeded from vec_id 0..3, two
    unrolled iterations) expressed positionally: vectors posexplode to
    (vec_id, pos, v) once; each iteration is [broadcast the K·dim
    centroid table → join on pos → hash-aggregate squared distances →
    argmin via min(struct(dist, cluster))] then a (cluster, pos) average
    to re-estimate centroids. Nothing iterates on the driver but the K·dim
    centroid relation itself — the 100 TB-side data is touched once per
    iteration as a broadcast-joined map + combinable aggregate, the same
    shape MLlib's k-means uses. Distances are half-up rounded at 1e-6
    before the argmin so assignment ties resolve identically across
    engines; the oracle unrolls both iterations as chained CTEs.
    """
    emb = (
        read_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.posexplode("embedding").alias("pos0", "v"))
        .select(
            "vec_id", (F.col("pos0") + 1).alias("pos"), F.col("v").cast("double").alias("v")
        )
    )

    def _assign(cent: DataFrame) -> DataFrame:
        qv = quant(F.col("v")).cast("long")
        qc = quant(F.col("c")).cast("long")
        d = (
            emb.join(F.broadcast(cent), "pos")
            .groupBy("vec_id", "cluster")
            # exact-integer grid d2 (r5): order-independent in both engines
            .agg((F.sum((qv - qc) * (qv - qc)).cast("double") / F.lit(1e12)).alias("dist"))
        )
        return d.groupBy("vec_id").agg(
            F.min(F.struct("dist", "cluster")).alias("m")
        ).select("vec_id", F.col("m.cluster").alias("cluster"))

    def _recenter(assign: DataFrame) -> DataFrame:
        return (
            emb.join(assign, "vec_id")
            .groupBy("cluster", "pos")
            .agg(mean_grid(F.col("v")).alias("c"))
        )

    cent = emb.where(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cluster"), "pos", F.col("v").alias("c")
    )
    for _ in range(2):
        assign = _assign(cent)
        cent = _recenter(assign)

    sizes = assign.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_members"))
    qcn = quant(F.col("c")).cast("long")
    norms = cent.groupBy("cluster").agg(
        (F.floor(F.sqrt(F.sum(qcn * qcn).cast("double")) + F.lit(0.5)) / F.lit(1e6)).alias(
            "centroid_norm"
        )
    )
    return sizes.join(norms, "cluster").select("cluster", "n_members", "centroid_norm")


# ---------------------------------------------------------------------------
# graph_triangle_count — triangles in the part co-occurrence graph
# ---------------------------------------------------------------------------


@query(
    "graph_triangle_count",
    """
    WITH edges AS (
      SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT (SELECT count(DISTINCT l_partkey) FROM lineitem) AS n_vertices,
           (SELECT count(*) FROM edges) AS n_edges,
           (SELECT count(*)
            FROM edges e1
            JOIN edges e2 ON e2.pa = e1.pb
            JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb) AS n_triangles
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the part co-occurrence graph (parts are
    linked when they appear in the same order). Edges are canonicalized
    a<b at build time, so each triangle is generated exactly once as
    (a<b<c) and the count needs no /6 correction. The two-hop candidate
    join (e1⋈e2 on the shared middle vertex) is the quadratic term —
    bounded by sum(deg²); at 100 TB you bound it the standard way
    (degree-threshold or orientation by degree), here the canonical
    orientation already halves every degree. All three joins are plain
    hash joins on integer keys; the counts collapse to a single row.
    """
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb"))
        .distinct()
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.pa") == F.col("e1.pb"))
        .join(
            e3,
            (F.col("e3.pa") == F.col("e1.pa")) & (F.col("e3.pb") == F.col("e2.pb")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    counts = li.agg(F.countDistinct("l_partkey").alias("n_vertices"))
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return counts.crossJoin(F.broadcast(n_edges)).crossJoin(F.broadcast(tri))


# ---------------------------------------------------------------------------
# corpus_pii_scrub — PII detection + redaction before training
# ---------------------------------------------------------------------------

_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
_IP_RE = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"


@query(
    "corpus_pii_scrub",
    f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com or ' ||
             '555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
             ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
             CAST((doc_id * 7) % 256 AS VARCHAR) AS text
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phones,
           len(regexp_extract_all(
             regexp_replace(text, '{_PHONE_RE}', '', 'g'), '{_IP_RE}')) AS n_ips,
           regexp_replace(regexp_replace(regexp_replace(
             text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                   '{_PHONE_RE}', '[PHONE]', 'g'),
                   '{_IP_RE}', '[IP]', 'g') AS scrubbed
    FROM aug
    """,
)
def corpus_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection and redaction — the scrub pass a corpus takes before
    training. The fixture text is synthetic and PII-free, so each doc is
    first AUGMENTED with deterministic doc_id-derived email/phone/IP
    tokens (identically in both engines), then counted
    (size(regexp_extract_all)) and redacted (regexp_replace chain:
    email → [EMAIL], phone → [PHONE], IP → [IP]). Pure JVM regex — the
    same native-expression stance as the reference's normalize UDF
    rewrite (preprocess_and_store_parquets.py:111-138 → SURVEY §2.9):
    a linear map stage with zero Python and zero shuffle at any scale.
    Phone substrings are removed before IP counting so 555-xxx-xxxx
    never double-counts as a dotted quad.
    """
    docs = read_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
        ).alias("text"),
    )
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), 0)).cast("long").alias("n_phones"),
        F.size(
            F.regexp_extract_all(
                F.regexp_replace("text", _PHONE_RE, ""), F.lit(_IP_RE), 0
            )
        ).cast("long").alias("n_ips"),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace("text", _EMAIL_RE, "[EMAIL]"),
                _PHONE_RE,
                "[PHONE]",
            ),
            _IP_RE,
            "[IP]",
        ).alias("scrubbed"),
    )


# ---------------------------------------------------------------------------
# corpus_token_budget_epochs — mixture weights -> per-domain epoch allocation
# ---------------------------------------------------------------------------


@query(
    "corpus_token_budget_epochs",
    """
    WITH per_source AS (
      SELECT source,
             sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT sum(tokens) AS total_tokens, sum(sqrt(tokens)) AS sqrt_norm
      FROM per_source
    ), alloc AS (
      SELECT source, tokens,
             round(sqrt(tokens) / sqrt_norm, 6) AS mix_weight,
             round(2.0 * total_tokens * (sqrt(tokens) / sqrt_norm) / tokens, 6)
                 AS epochs
      FROM per_source, tot
    )
    SELECT source, tokens, mix_weight, epochs,
           CAST(epochs > 4.0 AS BOOLEAN) AS over_cap,
           CAST(floor(least(epochs, 4.0) * tokens) AS BIGINT)
               AS effective_tokens
    FROM alloc
    """,
)
def corpus_token_budget_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-allocation arithmetic that FOLLOWS mixture weighting
    (the LLaMA/DoReMi-style data-mixing step `corpus_domain_mix` feeds):
    given a token budget B (2x the corpus here — a multi-epoch run) and
    the sqrt-damped mixture weights, each domain's epoch count is
    B*w_s/tokens_s. Small domains get epochs > 1 (repeated), large ones
    < 1 (subsampled); domains pushed past the 4-epoch repetition cap —
    where repetition is known to stop helping — are flagged, and
    ``effective_tokens`` is what the run actually consumes from each
    (min(epochs, cap) * tokens). This table IS the data card a training
    run is configured from.

    Plan: everything derives from the one |sources|-row rollup
    `corpus_domain_mix` builds; the normalizers are one broadcast scalar
    row. One shuffle of |sources| rows regardless of corpus size."""
    docs = read_table(spark, sf_dir, "documents")
    per_source = (
        docs.select(
            "source", F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tok")
        )
        .groupBy("source")
        .agg(F.sum("n_tok").alias("tokens"))
    )
    tot = per_source.agg(
        F.sum("tokens").alias("total_tokens"),
        F.sum(F.sqrt("tokens")).alias("sqrt_norm"),
    )
    alloc = per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        F.round(F.sqrt("tokens") / F.col("sqrt_norm"), 6).alias("mix_weight"),
        F.round(
            F.lit(2.0)
            * F.col("total_tokens")
            * (F.sqrt("tokens") / F.col("sqrt_norm"))
            / F.col("tokens"),
            6,
        ).alias("epochs"),
    )
    return alloc.select(
        "source",
        "tokens",
        "mix_weight",
        "epochs",
        (F.col("epochs") > 4.0).alias("over_cap"),
        F.floor(F.least(F.col("epochs"), F.lit(4.0)) * F.col("tokens"))
        .cast("long")
        .alias("effective_tokens"),
    )
