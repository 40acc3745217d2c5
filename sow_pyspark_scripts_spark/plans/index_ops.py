"""Index-numbers / graded-ranking / link-analysis tier: the classical
price-index triple (Laspeyres / Paasche / Fisher — "how much did the
same basket's cost move between two periods"), NDCG@10 (graded-relevance
ranking quality, the metric `ml_map_mrr`'s binary relevance cannot
express), and HITS hubs/authorities (the second classical link-analysis
eigenvector pair next to `graph_pagerank_iter`).

The reference indexes raw incident rows for analysts to query
(`sql_to_es_etl.py:137-142`); these are the engine-side rollups those
analysts would otherwise push back down: period-over-period price
movement, search-quality scoring, and influence ranking.

Scale notes baked into each builder:
- the price indices collapse the fact to (part, period) ONCE — exact
  integer cents/quantity sums — join the two period slices
  part-to-part (co-partitioned equi-join on partkey), and reduce to a
  1-row index; the Laspeyres denominator and Paasche numerator stay
  exact BIGINTs (sum pv0 / sum pv1 over common parts) because
  p*q at the base period IS the period's revenue;
- NDCG ranks only inside per-user windows (never a global sort); both
  the actual and the ideal ordering are per-user window passes, gains
  2^g - 1 are small exact integers, and per-user NDCG quantizes to
  1e12 "picounits" (the `ml_map_mrr` convention) so the cross-user
  mean is a BIGINT sum immune to partition order;
- HITS materializes the distinct user-part edge rollup once
  (localCheckpoint), runs two unrolled hub/authority rounds as
  keyed join+aggregate pairs, L2-normalizes via broadcast scalar
  (never an unpartitioned window over a row-sized relation), and
  takes the top-10 authorities on 1e6-quantized scores so the cut is
  engine-stable.
"""

from __future__ import annotations

from ..functions.det import quant, r6
from ..functions.pin import pin as _pin_lazy, pin_eager as _pin_eager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import read_table


# ---------------------------------------------------------------------------
# agg_price_index_fisher — Laspeyres / Paasche / Fisher between two periods
# ---------------------------------------------------------------------------

_FISHER_ORACLE = """
WITH yr AS (
    SELECT MIN(year(o_orderdate)) AS y0, MAX(year(o_orderdate)) AS y1
    FROM orders
),
pp AS (
    SELECT l_partkey AS p, year(o_orderdate) AS y,
           SUM(CAST(l_quantity AS BIGINT)) AS q,
           SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS pv
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2
),
common AS (
    SELECT b.p, b.q AS q0, b.pv AS pv0, c.q AS q1, c.pv AS pv1
    FROM pp b JOIN pp c ON b.p = c.p, yr
    WHERE b.y = yr.y0 AND c.y = yr.y1 AND b.q > 0 AND c.q > 0
),
s AS (
    SELECT COUNT(*) AS n_parts,
           SUM(pv0) AS spv0, SUM(pv1) AS spv1,
           SUM(CAST(pv1 AS DOUBLE) * q0 / q1) AS l_num,
           SUM(CAST(pv0 AS DOUBLE) * q1 / q0) AS p_den
    FROM common
)
SELECT yr.y0 AS year0, yr.y1 AS year1, s.n_parts,
       floor(l_num / spv0 * 1e6 + 0.5) / 1e6 AS laspeyres,
       floor(CAST(spv1 AS DOUBLE) / p_den * 1e6 + 0.5) / 1e6 AS paasche,
       floor(sqrt((l_num / spv0) * (CAST(spv1 AS DOUBLE) / p_den)) * 1e6 + 0.5)
           / 1e6 AS fisher
FROM s, yr
"""


@query("agg_price_index_fisher", _FISHER_ORACLE)
def agg_price_index_fisher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres, Paasche, and Fisher price indices between the first
    and last order year — the classical "did prices move, holding the
    basket fixed" decomposition that separates price change from
    volume/mix change (the pure-price complement to
    `agg_mix_shift_decompose`'s rate-vs-mix bridge). Per-part unit
    prices are pv/q ratios of exact integer sums at each period;
    Laspeyres reweights current prices by BASE quantities (its
    denominator sum(p0*q0) collapses to the exact BIGINT base revenue
    over common parts), Paasche by CURRENT quantities (its numerator
    is the exact current revenue), and Fisher is their geometric mean
    — the superlative index both sides of the economics literature
    accept. The fact collapses to the (part, year) grain once (one
    shuffle), the two period slices self-join part-to-part
    (co-partitioned equi-join), and everything after is a 1-row
    relation; only the two cross-period reweighting sums are double.
    """
    yr_src = read_table(spark, sf_dir, "orders")
    yr = yr_src.agg(
        F.min(F.year("o_orderdate")).alias("y0"),
        F.max(F.year("o_orderdate")).alias("y1"),
    )
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    pp = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("l_partkey").alias("p"),
            F.year("o_orderdate").alias("y"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("q"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("pv"),
        )
    )
    b = (
        pp.join(F.broadcast(yr))
        .where((F.col("y") == F.col("y0")) & (F.col("q") > 0))
        .select("p", F.col("q").alias("q0"), F.col("pv").alias("pv0"))
    )
    c = (
        pp.join(F.broadcast(yr))
        .where((F.col("y") == F.col("y1")) & (F.col("q") > 0))
        .select(
            F.col("p").alias("pc"),
            F.col("q").alias("q1"),
            F.col("pv").alias("pv1"),
        )
    )
    common = b.join(c, b["p"] == c["pc"])
    s = common.agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("pv0").alias("spv0"),
        F.sum("pv1").alias("spv1"),
        F.sum(F.col("pv1").cast("double") * F.col("q0") / F.col("q1")).alias(
            "l_num"
        ),
        F.sum(F.col("pv0").cast("double") * F.col("q1") / F.col("q0")).alias(
            "p_den"
        ),
    )
    lasp = F.col("l_num") / F.col("spv0")
    paas = F.col("spv1").cast("double") / F.col("p_den")
    return s.join(F.broadcast(yr)).select(
        F.col("y0").cast("long").alias("year0"),
        F.col("y1").cast("long").alias("year1"),
        "n_parts",
        r6(lasp).alias("laspeyres"),
        r6(paas).alias("paasche"),
        r6(F.sqrt(lasp * paas)).alias("fisher"),
    )


# ---------------------------------------------------------------------------
# ml_ndcg_at_k — graded-relevance ranking quality
# ---------------------------------------------------------------------------

_NDCG_K = 10

_NDCG_ORACLE = f"""
WITH base AS (
    SELECT user_id, event_id,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
           CASE event_type WHEN 'purchase' THEN 3 WHEN 'signup' THEN 2
                           WHEN 'click' THEN 1 ELSE 0 END AS g
    FROM events
),
ranked AS (
    SELECT user_id, g,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY cents DESC, event_id ASC) AS r,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY g DESC, event_id ASC) AS ir
    FROM base
),
pu AS (
    SELECT user_id,
           SUM(CASE WHEN r <= {_NDCG_K}
                    THEN (power(2, g) - 1) / log2(r + 1.0) ELSE 0 END) AS dcg,
           SUM(CASE WHEN ir <= {_NDCG_K}
                    THEN (power(2, g) - 1) / log2(ir + 1.0) ELSE 0 END) AS idcg
    FROM ranked GROUP BY 1
),
au AS (
    SELECT CAST(floor(dcg / idcg * 1e12 + 0.5) AS BIGINT) AS ndcg_u
    FROM pu WHERE idcg > 0
)
SELECT COUNT(*) AS n_users,
       floor(CAST(SUM(ndcg_u) AS DOUBLE) / COUNT(*) / 1e12 * 1e6 + 0.5) / 1e6
           AS ndcg_at_10
FROM au
"""


@query("ml_ndcg_at_k", _NDCG_ORACLE)
def ml_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 with graded relevance (purchase=3, signup=2, click=1,
    else 0) over each user's value-ranked event list — the ranking
    metric `ml_map_mrr` cannot express: binary AP counts a hit as a
    hit, NDCG pays 2^g - 1 for getting the HIGH-grade items into the
    top positions with logarithmic position discount. Both the actual
    ordering (value cents desc, event_id tie-break) and the ideal
    ordering (grade desc) are per-user window passes — never a global
    sort — and gains are small exact integers, so the only floats are
    the log2 discounts, identical expressions in both engines.
    Per-user NDCG quantizes to 1e12 picounits (the `ml_map_mrr`
    convention) making the cross-user mean a BIGINT sum immune to
    partition order; users with no graded item (idcg = 0) drop, as in
    standard IR eval.
    """
    ev = read_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        F.when(F.col("event_type") == "purchase", 3)
        .when(F.col("event_type") == "signup", 2)
        .when(F.col("event_type") == "click", 1)
        .otherwise(0)
        .alias("g"),
    )
    wr = Window.partitionBy("user_id").orderBy(
        F.desc("cents"), F.asc("event_id")
    )
    wi = Window.partitionBy("user_id").orderBy(F.desc("g"), F.asc("event_id"))
    ranked = base.select(
        "user_id",
        "g",
        F.row_number().over(wr).alias("r"),
        F.row_number().over(wi).alias("ir"),
    )
    gain = F.pow(F.lit(2.0), F.col("g")) - 1
    pu = ranked.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("r") <= _NDCG_K, gain / F.log2(F.col("r") + 1.0))
            .otherwise(0.0)
        ).alias("dcg"),
        F.sum(
            F.when(F.col("ir") <= _NDCG_K, gain / F.log2(F.col("ir") + 1.0))
            .otherwise(0.0)
        ).alias("idcg"),
    )
    au = pu.where(F.col("idcg") > 0).select(
        F.floor(F.col("dcg") / F.col("idcg") * 1e12 + F.lit(0.5))
        .cast("long")
        .alias("ndcg_u")
    )
    return au.agg(
        F.count(F.lit(1)).alias("n_users"),
        r6(
            F.sum("ndcg_u").cast("double")
            / F.count(F.lit(1))
            / 1e12
        ).alias("ndcg_at_10"),
    )


# ---------------------------------------------------------------------------
# graph_hits_scores — hubs & authorities over the user-part graph
# ---------------------------------------------------------------------------

_HITS_ORACLE = """
WITH edges AS (
    SELECT DISTINCT o_custkey AS u, l_partkey AS p
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
-- scores live on the 1e-6 integer grid between half-steps (r5, the
-- PCA power-iter re-quantization discipline): every SUM is an exact
-- integer sum, every norm a sqrt of an exact hugeint — no float
-- accumulation order anywhere in the iteration
h1r AS (SELECT u, COUNT(*) AS d FROM edges GROUP BY 1),
h1 AS (
    SELECT u, CAST(floor(d / n.nrm * 1000000.0 + 0.5) AS BIGINT) AS h6
    FROM h1r, (SELECT sqrt(CAST(SUM(CAST(d AS HUGEINT) * d) AS DOUBLE)) AS nrm
               FROM h1r) n
),
a1r AS (
    SELECT e.p, SUM(h1.h6) AS s FROM edges e JOIN h1 ON e.u = h1.u GROUP BY 1
),
a1 AS (
    SELECT p, CAST(floor(s / n.nrm * 1000000.0 + 0.5) AS BIGINT) AS a6
    FROM a1r, (SELECT sqrt(CAST(SUM(CAST(s AS HUGEINT) * s) AS DOUBLE)) AS nrm
               FROM a1r) n
),
h2r AS (
    SELECT e.u, SUM(a1.a6) AS s FROM edges e JOIN a1 ON e.p = a1.p GROUP BY 1
),
h2 AS (
    SELECT u, CAST(floor(s / n.nrm * 1000000.0 + 0.5) AS BIGINT) AS h6
    FROM h2r, (SELECT sqrt(CAST(SUM(CAST(s AS HUGEINT) * s) AS DOUBLE)) AS nrm
               FROM h2r) n
),
a2r AS (
    SELECT e.p, SUM(h2.h6) AS s FROM edges e JOIN h2 ON e.u = h2.u GROUP BY 1
),
a2 AS (
    SELECT p, CAST(floor(s / n.nrm * 1000000.0 + 0.5) AS BIGINT) AS a6
    FROM a2r, (SELECT sqrt(CAST(SUM(CAST(s AS HUGEINT) * s) AS DOUBLE)) AS nrm
               FROM a2r) n
),
qz AS (
    SELECT p, a6 / 1000000.0 AS auth FROM a2
),
topk AS (
    SELECT p, auth,
           row_number() OVER (ORDER BY auth DESC, p ASC) AS rnk
    FROM qz
)
SELECT p AS p_partkey, auth AS auth_score, rnk
FROM topk WHERE rnk <= 10
"""


@query("graph_hits_scores", _HITS_ORACLE)
def graph_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the bipartite customer-part
    purchase graph — the second classical link-analysis eigenpair
    next to `graph_pagerank_iter`: authorities are parts endorsed by
    broad-basket customers, hubs are customers whose baskets
    concentrate on authoritative parts (the mutually-reinforcing
    definition PageRank's single score collapses). Two unrolled
    hub->authority rounds (enough to rank a 2-mode graph whose
    eigengap is large) with L2 normalization after every half-step —
    the norm is a broadcast SCALAR join, never an unpartitioned window
    over the row-sized score relation. The distinct edge rollup
    materializes once (localCheckpoint) and every half-step is one
    keyed join + aggregate on it (co-partitioned on u or p). The
    top-10 authority cut ranks 1e6-QUANTIZED scores (partkey
    tie-break), so the selection is stable against sub-quantum float
    drift between engines; the final tiny sort is a TakeOrdered, not
    a global sort.
    """
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("p"))
        .distinct()
        .transform(_pin_lazy)
    )

    def l2norm(df: DataFrame, col: str) -> DataFrame:
        # scores are INTEGER (1e-6 grid units): the norm is a sqrt of an
        # exact decimal sum of squares (DuckDB hugeint twin), the output
        # re-quantizes to grid units — no float accumulation anywhere
        # in the iteration (r5, the PCA power-iter discipline)
        dec = F.col(col).cast("decimal(38,0)")
        nrm = df.agg(F.sqrt(F.sum(dec * dec).cast("double")).alias("nrm"))
        return df.join(F.broadcast(nrm)).select(
            *[c for c in df.columns if c != col],
            quant(F.col(col) / F.col("nrm"))
            .cast("long")
            .alias(col),
        )

    # r8: pin every half-step (guide §3.3 "materialise an intermediate
    # to truncate the plan") — the unpinned unroll duplicated the whole
    # preceding chain ~2^4x (7-15s at sf0.1 for five joins over a
    # pinned edge rollup). r9 moves the pin BEFORE the normalization:
    # l2norm consumes its input twice (the norm's broadcast aggregate +
    # the main branch), so pinning the normalized OUTPUT still ran each
    # half-step's corpus-sized join+agg twice — step-timed at ~1s/half-
    # step, 6.0s total. With the RAW aggregate pinned, the norm reads
    # vertex-sized pinned blocks and the normalized map is narrow —
    # consumed exactly once by the successor, so it needs no pin of its
    # own. Step-timed after: the same five half-steps in ~3s.
    def half_step(df: DataFrame, col: str) -> DataFrame:
        return l2norm(df.transform(_pin_lazy), col)

    h = half_step(edges.groupBy("u").agg(F.count(F.lit(1)).alias("h")), "h")
    for _ in range(2):
        a = half_step(
            edges.join(h, "u").groupBy("p").agg(F.sum("h").alias("a")), "a"
        )
        h = half_step(
            edges.join(a, "p").groupBy("u").agg(F.sum("a").alias("h")), "h"
        )
    qz = a.select("p", (F.col("a") / F.lit(1e6)).alias("auth"))
    top10 = qz.orderBy(F.desc("auth"), F.asc("p")).limit(10)
    wtop = Window.orderBy(F.desc("auth"), F.asc("p"))
    return top10.select(
        F.col("p").alias("p_partkey"),
        F.col("auth").alias("auth_score"),
        F.row_number().over(wtop).cast("long").alias("rnk"),
    )
