"""Shard / scale-algorithm tier: connected components under its graph
name, per-row linear-model explanations, and byte-targeted shard
packing for training-data export.

Scale notes baked into each builder:
- connected components is the one pointer-jumping operator
  (`operators/graph.connected_components`): each round a hop (1-hop
  min label) plus a jump (the label of that label), run to a fixpoint
  over a plan cut every round — O(log diameter) rounds on a chain;
- linear SHAP is pure arithmetic once the two-feature OLS closed form
  is in hand: coefficients come from ONE exact co-moment pass
  (bigint sums), and each row's contributions are b_j·(x_j - mean_j)
  — additivity (base + Σφ = prediction) holds by construction and is
  asserted in the result;
- shard packing needs a GLOBAL running byte total — computed with the
  two-phase bucketed prefix (local keyed prefix + tiny bucket-offset
  table broadcast back, the `win_row_number_chunk` pattern applied to
  SUMs), never a single-partition window. Shard id = exclusive-prefix
  div target, so shard boundaries are deterministic and each shard
  holds a contiguous id range.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import read_table
from .sql_common import DEDUP_CLUSTERS_ORACLE


# ---------------------------------------------------------------------------
# graph_cc_pointer_jumping — connected components under the graph name
# ---------------------------------------------------------------------------


@query("graph_cc_pointer_jumping", DEDUP_CLUSTERS_ORACLE)
def graph_cc_pointer_jumping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the 3-gram Jaccard >= 0.5 document graph:
    the `dedup_clusters` relation (same edges, same pointer-jumping
    operator, same recursive min-reachable-label oracle), registered
    under the graph-algorithm name."""
    from .dedup_sim import dedup_clusters

    return dedup_clusters(spark, sf_dir)


# ---------------------------------------------------------------------------
# ml_linear_shap_local — per-row additive explanations of the OLS model
# ---------------------------------------------------------------------------

_SHAP_LIMIT = 200

_LSHAP_ORACLE = f"""
WITH pts AS (
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS BIGINT) AS x1,
           CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x2,
           CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
    FROM lineitem
),
m AS (
    SELECT COUNT(*) AS n, SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
           SUM(CAST(x1 AS HUGEINT) * x1) AS s11,
           SUM(CAST(x1 AS HUGEINT) * x2) AS s12,
           SUM(CAST(x2 AS HUGEINT) * x2) AS s22,
           SUM(CAST(x1 AS HUGEINT) * y) AS s1y,
           SUM(CAST(x2 AS HUGEINT) * y) AS s2y
    FROM pts
),
coef AS (
    SELECT n, CAST(s1 AS DOUBLE) / n AS m1, CAST(s2 AS DOUBLE) / n AS m2,
           CAST(sy AS DOUBLE) / n AS my,
           (CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) AS c11,
           (CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 / n) AS c12,
           (CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n) AS c22,
           (CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * sy / n) AS c1y,
           (CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * sy / n) AS c2y
    FROM m
),
b AS (
    SELECT m1, m2, my,
           (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) AS b1,
           (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) AS b2
    FROM coef
)
SELECT p.l_orderkey, p.l_linenumber,
       floor(b.b1 * (p.x1 - b.m1) / 100 * 1e4 + 0.5) / 1e4 AS phi_quantity,
       floor(b.b2 * (p.x2 - b.m2) / 100 * 1e4 + 0.5) / 1e4 AS phi_discount,
       floor((b.my + b.b1 * (p.x1 - b.m1) + b.b2 * (p.x2 - b.m2)) / 100
             * 1e4 + 0.5) / 1e4 AS prediction
FROM pts p CROSS JOIN b
WHERE p.l_orderkey < {_SHAP_LIMIT}
"""


@query("ml_linear_shap_local", _LSHAP_ORACLE)
def ml_linear_shap_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row additive explanations for the two-feature price model
    (extendedprice ~ quantity + discount): for a linear model with
    these features, the exact Shapley attribution of each prediction
    is φ_j = b_j·(x_j − mean_j), and base + φ_qty + φ_disc
    reconstructs the prediction exactly — the row-level "why did the
    model say that" surface (`events_attribution_shapley` is the
    channel-level sibling; this is the model-explanation form).
    Coefficients come from ONE exact integer co-moment pass (the
    `ml_ols_normal_equation` closed form with a 2x2 centered-moment
    solve); the single coefficient row broadcasts back onto the
    explained slice. Explanations are priced per row with zero extra
    scans — at 100 TB you explain any slice by predicate, not by
    exporting the model.
    """
    li = read_table(spark, sf_dir, "lineitem")
    pts = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("long").alias("x1"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long").alias(
            "x2"
        ),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("y"),
    )
    dec = "decimal(38,0)"
    m = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x1") * F.col("x1")).cast(dec)).alias("s11"),
        F.sum((F.col("x1") * F.col("x2")).cast(dec)).alias("s12"),
        F.sum((F.col("x2") * F.col("x2")).cast(dec)).alias("s22"),
        F.sum((F.col("x1") * F.col("y")).cast(dec)).alias("s1y"),
        F.sum((F.col("x2") * F.col("y")).cast(dec)).alias("s2y"),
    )
    n = F.col("n").cast("double")
    m1, m2, my = (
        F.col("s1").cast("double") / n,
        F.col("s2").cast("double") / n,
        F.col("sy").cast("double") / n,
    )
    c11 = F.col("s11").cast("double") - F.col("s1").cast("double") * F.col(
        "s1"
    ) / n
    c12 = F.col("s12").cast("double") - F.col("s1").cast("double") * F.col(
        "s2"
    ) / n
    c22 = F.col("s22").cast("double") - F.col("s2").cast("double") * F.col(
        "s2"
    ) / n
    c1y = F.col("s1y").cast("double") - F.col("s1").cast("double") * F.col(
        "sy"
    ) / n
    c2y = F.col("s2y").cast("double") - F.col("s2").cast("double") * F.col(
        "sy"
    ) / n
    det = c11 * c22 - c12 * c12
    b = m.select(
        m1.alias("m1"),
        m2.alias("m2"),
        my.alias("my"),
        ((c22 * c1y - c12 * c2y) / det).alias("b1"),
        ((c11 * c2y - c12 * c1y) / det).alias("b2"),
    )
    expl = pts.where(F.col("l_orderkey") < _SHAP_LIMIT).join(F.broadcast(b))
    phi1 = F.col("b1") * (F.col("x1") - F.col("m1"))
    phi2 = F.col("b2") * (F.col("x2") - F.col("m2"))

    def r4(c):
        return F.floor(c / 100 * 1e4 + F.lit(0.5)) / 1e4

    return expl.select(
        "l_orderkey",
        "l_linenumber",
        r4(phi1).alias("phi_quantity"),
        r4(phi2).alias("phi_discount"),
        r4(F.col("my") + phi1 + phi2).alias("prediction"),
    )


# ---------------------------------------------------------------------------
# pack_shards_bytes — byte-targeted training-shard assignment
# ---------------------------------------------------------------------------

_SHARD_BYTES = 50_000
_PREFIX_BUCKET = 64


_SHARDS_ORACLE = f"""
WITH sized AS (
    SELECT doc_id, n_chars,
           COALESCE(SUM(n_chars) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS prefix_excl
    FROM documents
)
SELECT prefix_excl // {_SHARD_BYTES} AS shard_id,
       COUNT(*) AS n_docs,
       SUM(n_chars) AS shard_bytes,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM sized GROUP BY 1
"""


@query("pack_shards_bytes", _SHARDS_ORACLE)
def pack_shards_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-targeted shard assignment for training-data export (the
    WebDataset/TFRecord layout step): documents in id order are cut
    into shards of ~{_SHARD_BYTES} bytes by exclusive-prefix byte
    totals — shard = prefix div target — so every shard is a
    contiguous id range and the assignment is reproducible without
    coordination. The global running total is NEVER a
    single-partition window: ids bucket by doc_id div
    {_PREFIX_BUCKET}, byte prefixes run locally per bucket (one hash
    exchange), bucket totals become running offsets via a window over
    the TINY bucket table, and offsets broadcast back — the
    `win_row_number_chunk` two-phase pattern applied to byte sums.
    `pack_sequences` packs tokens into context windows; this packs
    documents into archive files — both ends of the export pipeline.
    """
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    bucket = (F.col("doc_id") / _PREFIX_BUCKET).cast("long").alias("bkt")
    wloc = (
        Window.partitionBy("bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = docs.select(
        "doc_id",
        "n_chars",
        bucket,
    ).withColumn("local_excl", F.coalesce(F.sum("n_chars").over(wloc), F.lit(0)))
    offsets = (
        local.groupBy("bkt")
        .agg(F.sum("n_chars").alias("bkt_bytes"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("bkt_bytes").over(
                    Window.orderBy("bkt").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("bkt", "offset")
    )
    sized = local.join(F.broadcast(offsets), "bkt").select(
        "doc_id",
        "n_chars",
        (F.col("offset") + F.col("local_excl")).alias("prefix_excl"),
    )
    return sized.groupBy(
        F.expr(f"prefix_excl div {_SHARD_BYTES}").alias("shard_id")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("shard_bytes"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )
