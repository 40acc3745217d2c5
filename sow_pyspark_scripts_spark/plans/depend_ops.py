"""Dependence / cohesion tier: binned mutual information (the
non-linear dependence screen), per-node local clustering coefficients
(graph cohesion beyond the global triangle count), and the
cross-source duplication matrix (which corpus sources copy which).

Scale notes baked into each builder:
- mutual information runs entirely on the bounded 2-D contingency
  rollup (the `stats_kendall_tau_binned` table): joint cells from one
  hash aggregate, marginals as windows over the rollup, and
  I(X;Y) = Σ (n_ij/n)·ln(n·n_ij/(n_i·n_j)) with integer counts inside
  the log argument; the marginal entropies H(X), H(Y) come from the
  same rollup, so the normalized score needs no second scan;
- local clustering explodes each triangle to its three corners
  (bounded 3x of the triangle relation) and joins per-node triangle
  counts against per-node degrees — both node-grain rollups; the
  coefficient 2T/(d(d-1)) is exact integers until the final division.
  The triangle derivation reuses the canonical low->high orientation
  that bounds wedge fan-out at skewed hubs;
- the cross-source dup matrix reuses the 3-gram Jaccard pair
  derivation (`dedup_clusters`' edges) and joins each pair to its
  docs' sources (broadcast doc->source map), normalizing by the
  source-pair document capacity — a |sources|² readout however big
  the corpus.
"""

from __future__ import annotations

from ..functions.det import r6
from ..functions.pin import pin as _pin_lazy, pin_eager as _pin_eager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import read_table
from .sql_common import SHINGLES_CTE as _SHINGLES_CTE


# ---------------------------------------------------------------------------
# stats_mutual_info_binned — information-theoretic dependence screen
# ---------------------------------------------------------------------------

_MI_ORACLE = """
WITH cells AS (
    SELECT CAST(l_quantity AS BIGINT) AS x,
           CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS y,
           COUNT(*) AS nij
    FROM lineitem GROUP BY 1, 2
),
marg AS (
    SELECT x, y, nij,
           SUM(nij) OVER (PARTITION BY x) AS ni,
           SUM(nij) OVER (PARTITION BY y) AS nj,
           SUM(nij) OVER () AS n
    FROM cells
),
terms AS (
    SELECT n, nij, ni, nj,
           CAST(nij AS DOUBLE) / n
             * ln(CAST(n AS DOUBLE) * nij / (CAST(ni AS DOUBLE) * nj)) AS mi_t
    FROM marg
),
hx AS (
    SELECT -SUM(CAST(ni AS DOUBLE) / n * ln(CAST(ni AS DOUBLE) / n)) AS h
    FROM (SELECT x, SUM(nij) AS ni, MAX(tot.n) AS n
          FROM cells CROSS JOIN (SELECT SUM(nij) AS n FROM cells) tot
          GROUP BY x)
),
hy AS (
    SELECT -SUM(CAST(nj AS DOUBLE) / n * ln(CAST(nj AS DOUBLE) / n)) AS h
    FROM (SELECT y, SUM(nij) AS nj, MAX(tot.n) AS n
          FROM cells CROSS JOIN (SELECT SUM(nij) AS n FROM cells) tot
          GROUP BY y)
)
SELECT MAX(t.n) AS n,
       floor(SUM(t.mi_t) * 1e6 + 0.5) / 1e6 AS mi_nats,
       floor(SUM(t.mi_t) / LEAST(MAX(hx.h), MAX(hy.h)) * 1e6 + 0.5) / 1e6
           AS normalized_mi
FROM terms t CROSS JOIN hx CROSS JOIN hy
"""


@query("stats_mutual_info_binned", _MI_ORACLE)
def stats_mutual_info_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between quantity and discount over the binned
    joint distribution — the dependence screen that catches ANY
    relationship (non-linear, non-monotone) where Pearson
    (`agg_corr_regression`) needs linearity and Kendall
    (`stats_kendall_tau_binned`) needs monotonicity; normalized by
    min(H(X), H(Y)) so 1.0 means one variable determines the other.
    Everything runs on the bounded contingency rollup from ONE hash
    aggregate: joint probabilities and both marginals are windows over
    the ~550-cell table, integer counts sit inside every log argument
    (n·n_ij/(n_i·n_j)), and the two marginal entropies reuse the same
    cells — the fact is scanned once, the arithmetic is cells-sized.
    """
    li = read_table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long").alias(
            "y"
        ),
    ).agg(F.count(F.lit(1)).alias("nij")).transform(_pin_lazy)
    marg = cells.select(
        "nij",
        F.sum("nij").over(Window.partitionBy("x")).alias("ni"),
        F.sum("nij").over(Window.partitionBy("y")).alias("nj"),
        F.sum("nij").over(Window.partitionBy()).alias("n"),
    )
    mi_t = (
        F.col("nij").cast("double")
        / F.col("n")
        * F.log(
            F.col("n").cast("double")
            * F.col("nij")
            / (F.col("ni").cast("double") * F.col("nj"))
        )
    )
    mi = marg.agg(
        F.max("n").alias("n"), F.sum(mi_t).alias("mi")
    )

    def entropy(key):
        tot = cells.agg(F.sum("nij").alias("n"))
        m = cells.groupBy(key).agg(F.sum("nij").alias("nk")).join(
            F.broadcast(tot)
        )
        p = F.col("nk").cast("double") / F.col("n")
        return m.agg((-F.sum(p * F.log(p))).alias("h"))

    hx = entropy("x").select(F.col("h").alias("hx"))
    hy = entropy("y").select(F.col("h").alias("hy"))
    return (
        mi.join(F.broadcast(hx))
        .join(F.broadcast(hy))
        .select(
            "n",
            r6(F.col("mi")).alias("mi_nats"),
            r6(F.col("mi") / F.least(F.col("hx"), F.col("hy"))).alias("normalized_mi"),
        )
    )


# ---------------------------------------------------------------------------
# graph_local_clustering — per-node cohesion from oriented triangles
# ---------------------------------------------------------------------------

_LCC_ORACLE = """
WITH baskets AS (
    SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
    FROM lineitem GROUP BY 1
),
edges AS (
    SELECT DISTINCT p1.p AS a, p2.p AS b
    FROM baskets, UNNEST(parts) AS p1(p), UNNEST(parts) AS p2(p)
    WHERE p1.p < p2.p
),
tris AS (
    SELECT e1.a AS x, e1.b AS y, e2.b AS z
    FROM edges e1
    JOIN edges e2 ON e1.b = e2.a
    JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
),
tri_nodes AS (
    SELECT v, COUNT(*) AS t
    FROM (SELECT x AS v FROM tris UNION ALL SELECT y FROM tris
          UNION ALL SELECT z FROM tris)
    GROUP BY 1
),
deg AS (
    SELECT v, COUNT(*) AS d
    FROM (SELECT a AS v FROM edges UNION ALL SELECT b FROM edges)
    GROUP BY 1
)
SELECT d.v AS part, d.d AS degree,
       COALESCE(t.t, 0) AS triangles,
       floor(CASE WHEN d.d < 2 THEN 0
                  ELSE 2.0 * COALESCE(t.t, 0) / (d.d * (d.d - 1)) END
             * 1e6 + 0.5) / 1e6 AS local_cc
FROM deg d LEFT JOIN tri_nodes t ON d.v = t.v
WHERE d.d >= 5
"""


@query("graph_local_clustering", _LCC_ORACLE)
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per part in the co-purchase graph:
    2·T(v)/(deg(v)·(deg(v)−1)) — how much of each node's neighborhood
    is itself connected, the per-node cohesion signal behind community
    seeds and anomalous-hub detection (`graph_triangle_count` is the
    global sum; `graph_modularity` scores a given partition — this is
    the node-grain view, reported for nodes with degree >= 5).
    Triangles enumerate once via the canonical a<b<c orientation
    (hash-join cascade over the deduplicated edge list — wedge
    fan-out bounded by orienting along the order), then explode to
    their three corners (bounded 3x) for per-node counts; degrees are
    a second rollup of the same edge list. Exact integers until the
    final coefficient.
    """
    li = read_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    edges = (
        baskets.select(F.explode("parts").alias("a"), "parts")
        .select("a", F.explode("parts").alias("b"))
        .where(F.col("a") < F.col("b"))
        .distinct()
        .transform(_pin_lazy)
    )
    e1 = edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = edges.select(F.col("a").alias("y2"), F.col("b").alias("z"))
    e3 = edges.select(F.col("a").alias("x3"), F.col("b").alias("z3"))
    tris = (
        e1.join(e2, F.col("y") == F.col("y2"))
        .join(
            e3,
            (F.col("x") == F.col("x3")) & (F.col("z") == F.col("z3")),
        )
        .select("x", "y", "z")
    )
    tri_nodes = (
        tris.select(F.col("x").alias("v"))
        .unionAll(tris.select(F.col("y").alias("v")))
        .unionAll(tris.select(F.col("z").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    cc = F.when(F.col("d") < 2, 0.0).otherwise(
        2.0 * F.coalesce(F.col("t"), F.lit(0)) / (F.col("d") * (F.col("d") - 1))
    )
    return (
        deg.join(tri_nodes, "v", "left")
        .where(F.col("d") >= 5)
        .select(
            F.col("v").alias("part"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).alias("triangles"),
            r6(cc).alias("local_cc"),
        )
    )


# ---------------------------------------------------------------------------
# graph_local_clustering_sampled — DOULION edge-sampled LCC (the scale dial)
# ---------------------------------------------------------------------------

# Deterministic, engine-portable edge sampler: a pure-BIGINT arithmetic
# hash (no xxhash — DuckDB lacks it) with every intermediate bounded
# below 2^63 so DuckDB's checked multiplication never overflows. Keep
# probability p = 1/2, so the triangle estimator's 1/p^3 = 8 is an
# EXACT integer scale — the estimate stays integer arithmetic end to
# end and the oracle replays it bit-for-bit.
_EDGE_KEEP_SQL = "((a * 1000003 + b) % 1000000007) * 2654435761 % 1000 < 500"

_LCC_SAMPLED_ORACLE = """
WITH baskets AS (
    SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
    FROM lineitem GROUP BY 1
),
edges AS (
    SELECT DISTINCT p1.p AS a, p2.p AS b
    FROM baskets, UNNEST(parts) AS p1(p), UNNEST(parts) AS p2(p)
    WHERE p1.p < p2.p
),
kept AS (
    SELECT a, b FROM edges
    WHERE ((a * 1000003 + b) % 1000000007) * 2654435761 % 1000 < 500
),
tris AS (
    SELECT e1.a AS x, e1.b AS y, e2.b AS z
    FROM kept e1
    JOIN kept e2 ON e1.b = e2.a
    JOIN kept e3 ON e3.a = e1.a AND e3.b = e2.b
),
tri_nodes AS (
    SELECT v, COUNT(*) AS t
    FROM (SELECT x AS v FROM tris UNION ALL SELECT y FROM tris
          UNION ALL SELECT z FROM tris)
    GROUP BY 1
),
deg AS (
    SELECT v, COUNT(*) AS d
    FROM (SELECT a AS v FROM edges UNION ALL SELECT b FROM edges)
    GROUP BY 1
)
SELECT d.v AS part, d.d AS degree,
       COALESCE(t.t, 0) * 8 AS triangles_est,
       floor(CASE WHEN d.d < 2 THEN 0
                  ELSE 2.0 * COALESCE(t.t, 0) * 8 / (d.d * (d.d - 1)) END
             * 1e6 + 0.5) / 1e6 AS local_cc_est
FROM deg d LEFT JOIN tri_nodes t ON d.v = t.v
WHERE d.d >= 5
"""


@query("graph_local_clustering_sampled", _LCC_SAMPLED_ORACLE)
def graph_local_clustering_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DOULION-style edge-sampled local clustering coefficient — the
    100 TB dial for `graph_local_clustering`. Exact per-node triangle
    enumeration is intrinsically wedge-bound: on the sf0.1 co-purchase
    graph the wedge count is ~49M id-oriented and still ~41M under the
    degree-ordered orientation (measured round 7 — the graph is
    near-uniform, median degree 119 / max 222, so orientation tricks
    don't help), and wedges grow ~linearly in rows x average degree.
    Sampling each edge with p = 1/2 by a deterministic arithmetic hash
    cuts wedge work to ~p^2 = 1/4 and triangle counts to ~p^3, then
    scales the per-node count by exactly 8 (unbiased: a triangle
    survives iff its three edges do). Degrees stay EXACT from the full
    edge list, so the denominator carries no variance. The sampler is
    pure BIGINT arithmetic replayed verbatim by the DuckDB oracle —
    the check is bit-exact, not statistical; the estimator-vs-exact
    error is bounded separately in tests/test_properties.py.
    """
    li = read_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    # Deliberately NOT pinned (unlike the exact query): a localCheckpoint
    # of the 1.2M-row edge list costs ~6s of materialization+GC at sf0.1
    # and blocks the keep-predicate from pushing below the distinct —
    # measured 24.1s pinned vs 5.7-6.9s unpinned for this plan. The edge
    # derivation is cheap (~3s) and recomputes pipelined per branch.
    edges = (
        baskets.select(F.explode("parts").alias("a"), "parts")
        .select("a", F.explode("parts").alias("b"))
        .where(F.col("a") < F.col("b"))
        .distinct()
    )
    kept = edges.where(F.expr(_EDGE_KEEP_SQL))
    e1 = kept.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = kept.select(F.col("a").alias("y2"), F.col("b").alias("z"))
    e3 = kept.select(F.col("a").alias("x3"), F.col("b").alias("z3"))
    tris = (
        e1.join(e2, F.col("y") == F.col("y2"))
        .join(e3, (F.col("x") == F.col("x3")) & (F.col("z") == F.col("z3")))
        .select("x", "y", "z")
    )
    tri_nodes = (
        tris.select(F.col("x").alias("v"))
        .unionAll(tris.select(F.col("y").alias("v")))
        .unionAll(tris.select(F.col("z").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    t8 = F.coalesce(F.col("t"), F.lit(0)) * 8
    cc = F.when(F.col("d") < 2, 0.0).otherwise(
        2.0 * t8 / (F.col("d") * (F.col("d") - 1))
    )
    return (
        deg.join(tri_nodes, "v", "left")
        .where(F.col("d") >= 5)
        .select(
            F.col("v").alias("part"),
            F.col("d").alias("degree"),
            t8.cast("long").alias("triangles_est"),
            r6(cc).alias("local_cc_est"),
        )
    )


# ---------------------------------------------------------------------------
# graph_triangle_count_sampled — DOULION edge-sampled global count
# ---------------------------------------------------------------------------

_TRI_SAMPLED_ORACLE = """
WITH baskets AS (
    SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
    FROM lineitem GROUP BY 1
),
edges AS (
    SELECT DISTINCT p1.p AS a, p2.p AS b
    FROM baskets, UNNEST(parts) AS p1(p), UNNEST(parts) AS p2(p)
    WHERE p1.p < p2.p
),
kept AS (
    SELECT a, b FROM edges
    WHERE ((a * 1000003 + b) % 1000000007) * 2654435761 % 1000 < 500
)
SELECT (SELECT count(DISTINCT l_partkey) FROM lineitem) AS n_vertices,
       (SELECT count(*) FROM edges) AS n_edges,
       (SELECT count(*) * 8
        FROM kept e1
        JOIN kept e2 ON e2.a = e1.b
        JOIN kept e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles_est
"""


@query("graph_triangle_count_sampled", _TRI_SAMPLED_ORACLE)
def graph_triangle_count_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DOULION edge-sampled global triangle count — the 100 TB dial for
    `graph_triangle_count` (VERDICT r7 task #2: the last wedge-floor
    query without a scale twin). Same machinery as
    `graph_local_clustering_sampled`: each canonical a<b edge survives
    with p = 1/2 under the deterministic pure-BIGINT arithmetic hash
    (``_EDGE_KEEP_SQL``), the surviving-triangle count scales by exactly
    1/p^3 = 8 (a triangle survives iff its three edges do — the
    estimator is unbiased, Tsourakakis 2009), and wedge work — the
    quadratic term that makes the exact form a documented ~10s cost
    floor at sf0.1 — drops to ~p^2 = 1/4. Vertex and edge counts stay
    EXACT from the full edge list (no variance where none is needed).
    The sampler replays bit-for-bit in the DuckDB oracle, so the check
    is deterministic, not statistical; the estimator-vs-exact error
    band is asserted separately in tests/test_properties.py. The exact
    form remains registered for oracle duty.
    """
    li = read_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    # Unpinned for the same measured reason as the sampled LCC: the
    # keep-predicate must push below the distinct, and the edge
    # derivation is cheaper than a checkpoint's materialization+GC.
    edges = (
        baskets.select(F.explode("parts").alias("a"), "parts")
        .select("a", F.explode("parts").alias("b"))
        .where(F.col("a") < F.col("b"))
        .distinct()
    )
    kept = edges.where(F.expr(_EDGE_KEEP_SQL))
    e1 = kept.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = kept.select(F.col("a").alias("y2"), F.col("b").alias("z"))
    e3 = kept.select(F.col("a").alias("x3"), F.col("b").alias("z3"))
    tri = (
        e1.join(e2, F.col("y") == F.col("y2"))
        .join(e3, (F.col("x") == F.col("x3")) & (F.col("z") == F.col("z3")))
        .agg((F.count(F.lit(1)) * 8).alias("n_triangles_est"))
    )
    counts = li.agg(F.countDistinct("l_partkey").alias("n_vertices"))
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return counts.crossJoin(F.broadcast(n_edges)).crossJoin(F.broadcast(tri))


# ---------------------------------------------------------------------------
# corpus_cross_source_dup_matrix — who copies whom
# ---------------------------------------------------------------------------

_XSRC_ORACLE = f"""
WITH RECURSIVE {_SHINGLES_CTE},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sizes sa ON inter.doc_a = sa.doc_id
  JOIN sizes sb ON inter.doc_b = sb.doc_id
  WHERE floor(CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 >= 0.5
),
tagged AS (
  SELECT LEAST(da.source, db.source) AS source_a,
         GREATEST(da.source, db.source) AS source_b
  FROM pairs p
  JOIN documents da ON p.doc_a = da.doc_id
  JOIN documents db ON p.doc_b = db.doc_id
),
src_counts AS (SELECT source, COUNT(*) AS nd FROM documents GROUP BY 1)
SELECT t.source_a, t.source_b, COUNT(*) AS dup_pairs,
       floor(COUNT(*) / (CASE WHEN t.source_a = t.source_b
                 THEN CAST(ca.nd AS DOUBLE) * (ca.nd - 1) / 2
                 ELSE CAST(ca.nd AS DOUBLE) * cb.nd END)
             * 1e6 + 0.5) / 1e6 AS dup_rate
FROM tagged t
JOIN src_counts ca ON t.source_a = ca.source
JOIN src_counts cb ON t.source_b = cb.source
GROUP BY t.source_a, t.source_b, ca.nd, cb.nd
"""


@query("corpus_cross_source_dup_matrix", _XSRC_ORACLE)
def corpus_cross_source_dup_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-source duplication matrix: near-dup pairs (3-gram Jaccard
    >= 0.5, `dedup_clusters`' edge derivation) attributed to their
    (source_a, source_b) cells and normalized by the pair capacity —
    the provenance readout that says which feeds mirror each other
    (scraped syndication, internal re-ingestion) and therefore which
    source's "new" volume is actually duplicate mass
    (`corpus_dataset_card` reports per-source dup membership; this
    reports the BETWEEN-source structure). The doc->source map joins
    onto the pair list broadcast (docs-grain, tiny vs the shingle
    stream), sources order canonically inside each pair, and the
    output is |sources|² rows regardless of corpus size.
    """
    from ..operators.dedup import jaccard_pairs, word_shingles

    docs = read_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(word_shingles(docs), 0.5)
    src = docs.select("doc_id", "source")
    tagged = (
        pairs.join(
            F.broadcast(src.select(F.col("doc_id").alias("doc_a"),
                                   F.col("source").alias("sa"))),
            "doc_a",
        )
        .join(
            F.broadcast(src.select(F.col("doc_id").alias("doc_b"),
                                   F.col("source").alias("sb"))),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    src_counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("nd"))
    ca = src_counts.select(
        F.col("source").alias("source_a"), F.col("nd").alias("nda")
    )
    cb = src_counts.select(
        F.col("source").alias("source_b"), F.col("nd").alias("ndb")
    )
    cap = F.when(
        F.col("source_a") == F.col("source_b"),
        F.col("nda").cast("double") * (F.col("nda") - 1) / 2,
    ).otherwise(F.col("nda").cast("double") * F.col("ndb"))
    return (
        tagged.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("dup_pairs"))
        .join(F.broadcast(ca), "source_a")
        .join(F.broadcast(cb), "source_b")
        .select(
            "source_a",
            "source_b",
            "dup_pairs",
            r6(F.col("dup_pairs") / cap).alias("dup_rate"),
        )
    )
