"""Platform-operations tier: the queries a training-data/warehouse team
runs ABOUT its pipeline, not just through it — storage quantization
quality, shuffle-skew diagnostics, privacy release gates, and accrual
accounting over fact intervals.

Extends the reference's operational posture (its scripts hand-tuned
repartition counts and flag columns — `sql_to_es_etl.py:84`,
`preprocess_and_store_parquets.py:85-87,176`) into measured, queryable
diagnostics.

Scale notes baked into each builder:
- int8 quantization needs ONE tiny aggregate (one row per embedding
  dimension — 64 rows at any corpus size) broadcast back into the flat
  scan; reconstruction errors quantize to integer picounits before the
  per-label sum so the MSE is bit-stable under any partitioning;
- the skew audit never ranks raw rows: the fact collapses to a per-key
  rollup first (one shuffle), and both the heavy-hitter pick and the
  32-bucket histogram are aggregates OVER that rollup — the two 1-row
  summaries meet in a broadcast nested loop, not a shuffle;
- l-diversity is two chained hash aggregates with shrinking keys
  (QI+band -> QI); everything after the first aggregate is bounded by
  the QI-group count, not the table size;
- revenue recognition joins the fact to a pre-aggregated ship-date
  rollup co-partitioned on the SAME key (orderkey), so AQE reuses one
  exchange; the per-month explode is a bounded sequence() fan-out
  (months between order and last ship), and cents are allocated by the
  largest-remainder rule in exact integer arithmetic — no float drift
  deciding which month gets the odd cent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.det import quant, r6
from ..functions.sketch import approx_pctl, approx_pctls
from ..registry import query
from ..sources import read_table, spread


# ---------------------------------------------------------------------------
# embedding_quantize_int8 — per-dim affine int8 quantization + quality
# ---------------------------------------------------------------------------

_QUANT_ORACLE = """
WITH flat AS (
    SELECT label,
           generate_subscripts(embedding, 1) AS pos,
           CAST(unnest(embedding) AS DOUBLE) AS v
    FROM embeddings
),
stats AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM flat GROUP BY pos),
q AS (
    SELECT label, v, mn, mx,
           CASE WHEN mx > mn
                THEN floor((v - mn) / ((mx - mn) / 255.0) + 0.5)
                ELSE 0.0 END AS code
    FROM flat JOIN stats USING (pos)
),
e AS (
    SELECT label,
           CAST(floor(
               (CASE WHEN mx > mn THEN code * ((mx - mn) / 255.0) + mn ELSE v END - v)
               * (CASE WHEN mx > mn THEN code * ((mx - mn) / 255.0) + mn ELSE v END - v)
               * 1e12 + 0.5) AS BIGINT) AS err_u
    FROM q
)
SELECT label,
       count(*) AS n_values,
       floor(CAST(sum(err_u) AS DOUBLE) / count(*) / 1e12 * 1e9 + 0.5) / 1e9 AS mse,
       floor(CAST(max(err_u) AS DOUBLE) / 1e12 * 1e9 + 0.5) / 1e9 AS max_sq_err
FROM e GROUP BY label
"""


@query("embedding_quantize_int8", _QUANT_ORACLE)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding column (per-dimension
    affine min/max codes) with per-label reconstruction error — the
    storage/ANN-index compression gate every vector pipeline runs before
    swapping float32 for int8 (4x smaller shuffles and index pages).

    Plan shape: one posexplode scan; the per-dimension min/max aggregate
    is one row per dimension (64 rows at ANY corpus size) and broadcasts
    back into the flat relation, so the only full-data exchange is the
    final per-label rollup. Squared errors quantize to integer picounits
    (floor(e^2*1e12+0.5)) BEFORE summation: bigint accumulation is
    associative, so the MSE is identical under any partitioning or AQE
    re-plan — and identical to the DuckDB oracle. The affine transform
    is written with the exact same operation order in both engines
    ((v-mn)/((mx-mn)/255.0)), making the IEEE-754 results bitwise equal.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "label", F.posexplode("embedding").alias("pos", "vf")
    ).select("label", "pos", F.col("vf").cast("double").alias("v"))
    stats = flat.groupBy("pos").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    scale = (F.col("mx") - F.col("mn")) / F.lit(255.0)
    code = F.when(
        F.col("mx") > F.col("mn"),
        F.floor((F.col("v") - F.col("mn")) / scale + F.lit(0.5)).cast("double"),
    ).otherwise(F.lit(0.0))
    dq = F.when(F.col("mx") > F.col("mn"), code * scale + F.col("mn")).otherwise(
        F.col("v")
    )
    err = dq - F.col("v")
    err_u = F.floor(err * err * F.lit(1e12) + F.lit(0.5)).cast("long")
    return (
        flat.join(F.broadcast(stats), "pos")
        .select("label", err_u.alias("err_u"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            (
                F.floor(
                    F.sum("err_u").cast("double")
                    / F.count(F.lit(1))
                    / F.lit(1e12)
                    * F.lit(1e9)
                    + F.lit(0.5)
                )
                / F.lit(1e9)
            ).alias("mse"),
            (
                F.floor(F.max("err_u").cast("double") / F.lit(1e12) * F.lit(1e9) + F.lit(0.5))
                / F.lit(1e9)
            ).alias("max_sq_err"),
        )
    )


# ---------------------------------------------------------------------------
# dq_partition_skew — would THIS key distribution survive a hash shuffle?
# ---------------------------------------------------------------------------

_SKEW_ORACLE = """
WITH keys AS (
    SELECT user_id AS k, count(*) AS c FROM events GROUP BY user_id
),
top AS (SELECT k, c FROM keys ORDER BY c DESC, k DESC LIMIT 1),
buckets AS (SELECT k % 32 AS b, sum(c) AS bc FROM keys GROUP BY 1),
g AS (SELECT sum(c) AS n_rows, count(*) AS n_keys FROM keys),
bs AS (
    SELECT max(bc) AS max_bucket_rows,
           count(*) AS n_buckets,
           sum(bc) AS tot
    FROM buckets
)
SELECT g.n_rows AS n_rows,
       g.n_keys AS n_keys,
       top.k AS top_key,
       top.c AS top_key_rows,
       floor(CAST(top.c AS DOUBLE) / g.n_rows * 1e6 + 0.5) / 1e6 AS top_key_share,
       bs.max_bucket_rows AS max_bucket_rows,
       floor(CAST(bs.max_bucket_rows AS DOUBLE) * bs.n_buckets / bs.tot * 1e6 + 0.5)
           / 1e6 AS imbalance
FROM g, bs, top
"""


@query("dq_partition_skew", _SKEW_ORACLE)
def dq_partition_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew audit for a prospective join/agg key: per-key row
    counts, the heaviest key and its share (decides whether that key
    needs salting — `join_salted_skew`), and the max/avg imbalance of a
    32-way hash partitioning (decides whether AQE skew-join thresholds
    will fire). The diagnostic a platform runs BEFORE the 100 TB join,
    replacing the reference's blind repartition(300/120/60) constants
    (`sql_to_es_etl.py:84`, `preprocess_and_store_parquets.py:176`).

    One full-data shuffle (the per-key rollup); the heavy-hitter pick is
    max(struct(count,key)) — ties break to the larger key, matching the
    oracle's ORDER BY c DESC, k DESC — and the bucket histogram
    aggregates the rollup, not the fact. The two one-row summaries and
    the one-row top pick combine via broadcast joins.
    """
    ev = read_table(spark, sf_dir, "events")
    keys = ev.groupBy(F.col("user_id").alias("k")).agg(F.count(F.lit(1)).alias("c"))
    glob = keys.agg(
        F.sum("c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max(F.struct(F.col("c"), F.col("k"))).alias("top"),
    ).select(
        "n_rows",
        "n_keys",
        F.col("top.k").alias("top_key"),
        F.col("top.c").alias("top_key_rows"),
    )
    buckets = keys.groupBy(F.pmod(F.col("k"), F.lit(32)).alias("b")).agg(
        F.sum("c").alias("bc")
    )
    bstats = buckets.agg(
        F.max("bc").alias("max_bucket_rows"),
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("bc").alias("tot"),
    )
    return (
        glob.crossJoin(F.broadcast(bstats))
        .select(
            "n_rows",
            "n_keys",
            "top_key",
            "top_key_rows",
            r6(F.col("top_key_rows").cast("double") / F.col("n_rows")).alias(
                "top_key_share"
            ),
            "max_bucket_rows",
            r6(
                F.col("max_bucket_rows").cast("double")
                * F.col("n_buckets")
                / F.col("tot")
            ).alias("imbalance"),
        )
    )


# ---------------------------------------------------------------------------
# dq_l_diversity — privacy release gate beyond k-anonymity
# ---------------------------------------------------------------------------

_LDIV_ORACLE = """
WITH t AS (
    SELECT c_nationkey AS nat, c_mktsegment AS seg,
           CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS band
    FROM customer
),
g AS (SELECT nat, seg, band, count(*) AS bc FROM t GROUP BY 1, 2, 3),
q AS (
    SELECT nat, seg, sum(bc) AS k, count(*) AS l_distinct, max(bc) AS top_bc
    FROM g GROUP BY 1, 2
)
SELECT nat, seg, k, l_distinct,
       floor(CAST(top_bc AS DOUBLE) / k * 1e6 + 0.5) / 1e6 AS top_band_share,
       (l_distinct >= 3) AS l_diverse
FROM q
"""


@query("dq_l_diversity", _LDIV_ORACLE)
def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l-diversity per quasi-identifier group: with QI =
    (nation, market segment) and the sensitive attribute banded account
    balance, a group is safe to release only if it contains >= 3
    distinct sensitive bands AND no single band dominates — the release
    gate that catches what `dq_k_anonymity` misses (a large group whose
    members all share one sensitive value is still a disclosure).

    Two chained hash aggregates with strictly shrinking keyspace
    ((QI, band) -> QI); the second groupBy reuses the first exchange's
    hash(nat, seg, band) layout prefix under AQE. The dominance share is
    a single bigint/bigint division (exact inputs, one rounding) so the
    hash-match holds at any partitioning.
    """
    cust = read_table(spark, sf_dir, "customer")
    t = cust.select(
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / F.lit(2000.0)).cast("long").alias("band"),
    )
    g = t.groupBy("nat", "seg", "band").agg(F.count(F.lit(1)).alias("bc"))
    q = g.groupBy("nat", "seg").agg(
        F.sum("bc").alias("k"),
        F.count(F.lit(1)).alias("l_distinct"),
        F.max("bc").alias("top_bc"),
    )
    return q.select(
        "nat",
        "seg",
        "k",
        "l_distinct",
        r6(F.col("top_bc").cast("double") / F.col("k")).alias("top_band_share"),
        (F.col("l_distinct") >= 3).alias("l_diverse"),
    )


# ---------------------------------------------------------------------------
# agg_revenue_recognition — pro-rata accrual over the order->ship interval
# ---------------------------------------------------------------------------

_REVREC_ORACLE = """
WITH o AS (
    SELECT o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS m0
    FROM orders
),
ship AS (
    SELECT l_orderkey, CAST(date_trunc('month', max(l_shipdate)) AS DATE) AS m1
    FROM lineitem GROUP BY l_orderkey
),
j AS (
    SELECT cents, m0,
           greatest((year(m1) * 12 + month(m1)) - (year(m0) * 12 + month(m0)) + 1,
                    1) AS nm
    FROM o JOIN ship ON l_orderkey = o_orderkey
),
alloc AS (
    SELECT m0, nm, cents,
           unnest(range(0, nm)) AS i
    FROM j
)
SELECT strftime(m0 + to_months(CAST(i AS INT)), '%Y-%m') AS fiscal_month,
       count(*) AS n_allocations,
       floor(CAST(sum(cents // nm + CASE WHEN i < cents % nm THEN 1 ELSE 0 END)
                  AS DOUBLE)) / 100.0 AS recognized_revenue
FROM alloc
GROUP BY 1
"""


@query("agg_revenue_recognition", _REVREC_ORACLE)
def agg_revenue_recognition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accrual accounting over fact intervals: each order's total is
    recognized evenly across the months from order date to its LAST
    line shipment, odd cents assigned by the largest-remainder rule
    (first months get the extra cent) — so every month's ledger sums in
    exact integer cents and the whole allocation reconciles to the
    source to the cent (the `dq_reconcile_order_totals` discipline
    applied to a derived schedule).

    The ship-date rollup and the orders fact shuffle on the SAME key
    (orderkey), so the join is one co-partitioned exchange pair; the
    month explode is sequence(0, nm-1) — bounded per-row fan-out (order
    lifetimes are months, not years), never a calendar cross join.
    Integer division and pmod allocate cents deterministically; no
    double enters until the final /100 display cast.
    """
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    o = orders.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * F.lit(100) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.trunc("o_orderdate", "month").alias("m0"),
    )
    ship = li.groupBy("l_orderkey").agg(
        F.trunc(F.max("l_shipdate"), "month").alias("m1")
    )
    mdiff = (F.year("m1") * 12 + F.month("m1")) - (
        F.year("m0") * 12 + F.month("m0")
    )
    j = o.join(ship, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "cents", "m0", F.greatest(mdiff + 1, F.lit(1)).alias("nm")
    )
    alloc = j.select(
        "m0",
        "nm",
        "cents",
        F.explode(F.sequence(F.lit(0), F.col("nm") - 1)).alias("i"),
    )
    cent_share = (F.col("cents") - F.pmod(F.col("cents"), F.col("nm"))) / F.col(
        "nm"
    )  # exact integer division via subtract-mod (stays long-exact)
    alloc_cents = cent_share.cast("long") + F.when(
        F.col("i") < F.pmod(F.col("cents"), F.col("nm")), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        alloc.select(
            F.date_format(F.add_months(F.col("m0"), F.col("i")), "yyyy-MM").alias(
                "fiscal_month"
            ),
            alloc_cents.alias("a"),
        )
        .groupBy("fiscal_month")
        .agg(
            F.count(F.lit(1)).alias("n_allocations"),
            (F.floor(F.sum("a").cast("double")) / F.lit(100.0)).alias(
                "recognized_revenue"
            ),
        )
    )


# ---------------------------------------------------------------------------
# reco_item_item_cf — item-item collaborative filtering neighbors
# ---------------------------------------------------------------------------

_CF_ORACLE = """
WITH ui AS (
    SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
),
deg AS (SELECT item, count(*) AS d FROM ui GROUP BY item),
co AS (
    SELECT a.item AS ia, b.item AS ib, count(*) AS c
    FROM ui a JOIN ui b ON a.basket = b.basket AND a.item <> b.item
    GROUP BY 1, 2
),
sims AS (
    SELECT ia, ib, c,
           floor(c / sqrt(CAST(da.d AS DOUBLE) * db.d) * 1e6 + 0.5) / 1e6
               AS cosine
    FROM co JOIN deg da ON da.item = ia JOIN deg db ON db.item = ib
    WHERE c >= 2
)
SELECT ia AS item, ib AS neighbor, c AS co_count, cosine,
       CAST(rnk AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY ia
                                   ORDER BY cosine DESC, ib) AS rnk
      FROM sims)
WHERE rnk <= 3
"""


@query("reco_item_item_cf", _CF_ORACLE)
def reco_item_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: top-3 neighbors per item by
    binary cosine over order baskets, co(a,b)/sqrt(deg(a)*deg(b)) with a
    co-count >= 2 support floor — the classic "customers who bought X
    also bought Y" model table, built nightly by every commerce
    platform.

    The basket self-join fans out per order (baskets are small — the
    quadratic blowup of a per-CUSTOMER history join is exactly what this
    formulation avoids; pair generation is bounded by basket_size^2 per
    order, the same shape as `basket_affinity_pairs`). Degrees join
    broadcast (item-bounded), and the final top-3 is a per-item window
    over the pruned similarity relation (support floor first, rank
    second — prune BEFORE the shuffle that ranks)."""
    li = read_table(spark, sf_dir, "lineitem")
    ui = li.select(
        F.col("l_orderkey").alias("basket"), F.col("l_partkey").alias("item")
    ).distinct()
    deg = ui.groupBy("item").agg(F.count(F.lit(1)).alias("d"))
    a = ui.select(F.col("basket"), F.col("item").alias("ia"))
    b = ui.select(F.col("basket").alias("basket_b"), F.col("item").alias("ib"))
    co = (
        a.join(b, (F.col("basket") == F.col("basket_b")) & (F.col("ia") != F.col("ib")))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
    )
    sims = (
        co.join(F.broadcast(deg.select(F.col("item").alias("ia"), F.col("d").alias("da"))), "ia")
        .join(F.broadcast(deg.select(F.col("item").alias("ib"), F.col("d").alias("db"))), "ib")
        .select(
            "ia",
            "ib",
            "c",
            r6(F.col("c") / F.sqrt(F.col("da").cast("double") * F.col("db"))).alias("cosine"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("ia").orderBy(F.desc("cosine"), F.asc("ib"))
    return (
        sims.select("ia", "ib", "c", "cosine", F.row_number().over(w).alias("rnk"))
        .where(F.col("rnk") <= 3)
        .select(
            F.col("ia").alias("item"),
            F.col("ib").alias("neighbor"),
            F.col("c").alias("co_count"),
            "cosine",
            F.col("rnk").cast("long").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# events_time_to_convert — first-touch to first-purchase latency
# ---------------------------------------------------------------------------

_TTC_ORACLE = """
WITH v AS (
    SELECT user_id, min(ts) AS first_view
    FROM events WHERE event_type = 'view' GROUP BY user_id
),
p AS (
    SELECT e.user_id, min(e.ts) AS first_purch
    FROM events e JOIN v ON e.user_id = v.user_id AND e.ts >= v.first_view
    WHERE e.event_type = 'purchase'
    GROUP BY e.user_id
),
d AS (
    SELECT CAST(date_diff('second', v.first_view, p.first_purch) AS BIGINT)
        AS sec
    FROM v JOIN p ON v.user_id = p.user_id
)
SELECT count(*) AS n_converters,
       round(quantile_disc(CAST(sec AS DOUBLE), 0.50), 4) AS p50_sec,
       round(quantile_disc(CAST(sec AS DOUBLE), 0.90), 4) AS p90_sec,
       floor(CAST(sum(sec) AS DOUBLE) / count(*) * 1e4 + 0.5) / 1e4 AS mean_sec
FROM d
"""


@query("events_time_to_convert", _TTC_ORACLE)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: per user, seconds from first
    view to the first purchase at-or-after it; report converter count,
    exact p50/p90 and the mean — the funnel-health metric that
    `events_funnel` (conversion COUNTS) doesn't give you.

    All three relations (first-view rollup, conditional first-purchase
    rollup, and their join) shuffle on user_id, so AQE collapses them
    onto one exchange; deltas are integer seconds, so the mean is exact
    and the sketch percentiles (approx_pctl == quantile_disc at the
    functions/sketch.py accuracy pin; cast to double on both engines so
    the discrete statistic comes back float-typed)
    operate on identical integer multisets in both engines. The final
    aggregate is one row — the single-partition exchange above it sits
    on the per-user rollup, not the fact."""
    ev = read_table(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .where(F.col("ts") >= F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purch"))
    )
    d = v.join(p, "user_id").select(
        (F.unix_timestamp("first_purch") - F.unix_timestamp("first_view")).alias("sec")
    )
    qs = approx_pctls(F.col("sec").cast("double"), (0.50, 0.90))
    return d.agg(
        F.count(F.lit(1)).alias("n_converters"),
        F.round(F.element_at(qs, 1), 4).alias("p50_sec"),
        F.round(F.element_at(qs, 2), 4).alias("p90_sec"),
        (
            F.floor(F.sum("sec").cast("double") / F.count(F.lit(1)) * F.lit(1e4) + F.lit(0.5))
            / F.lit(1e4)
        ).alias("mean_sec"),
    )


# ---------------------------------------------------------------------------
# stats_randomization_test — exact-arithmetic permutation test
# ---------------------------------------------------------------------------

_NPERM = 200

_PERM_ORACLE = f"""
WITH base AS (
    SELECT event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS grp
    FROM events WHERE event_type IN ('purchase', 'click')
),
obs AS (
    SELECT sum(CASE WHEN grp = 1 THEN cents ELSE 0 END) AS s1,
           sum(grp) AS n1,
           sum(CASE WHEN grp = 0 THEN cents ELSE 0 END) AS s0,
           sum(1 - grp) AS n0
    FROM base
),
flips AS (
    SELECT cents, b,
           CAST('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':'
                                   || CAST(b AS VARCHAR)), 1, 8) AS BIGINT) % 2
               AS flip
    FROM base, (SELECT unnest(range(0, {_NPERM})) AS b)
),
resamp AS (
    SELECT b,
           sum(CASE WHEN flip = 1 THEN cents ELSE 0 END) AS s1,
           sum(CASE WHEN flip = 1 THEN 1 ELSE 0 END) AS n1,
           sum(CASE WHEN flip = 0 THEN cents ELSE 0 END) AS s0,
           sum(CASE WHEN flip = 0 THEN 1 ELSE 0 END) AS n0
    FROM flips GROUP BY b
),
rd AS (
    SELECT abs(CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0) AS adiff
    FROM resamp WHERE n1 > 0 AND n0 > 0
),
od AS (
    SELECT abs(CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0) AS obs_diff
    FROM obs
)
SELECT (SELECT count(*) FROM rd) AS n_resamples,
       floor(obs_diff * 1e4 + 0.5) / 1e4 AS obs_diff_cents,
       floor((1.0 + (SELECT count(*) FROM rd WHERE adiff >= obs_diff))
             / (1.0 + (SELECT count(*) FROM rd)) * 1e6 + 0.5) / 1e6 AS p_value
FROM od
"""


@query("stats_randomization_test", _PERM_ORACLE)
def stats_randomization_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization (permutation) test for the purchase-vs-click mean
    difference: 200 content-addressed relabelings (md5(event_id:b)
    parity — the `stats_bootstrap_poisson` discipline, no RNG), p-value
    = (1 + #{|diff_b| >= |obs|}) / (1 + B). The distribution-free
    companion to `stats_welch_ttest`: no normality assumption, exact
    under the null.

    The replicate explode is map-side (sequence 0..199 per row), the
    group sums are integer cents, and each replicate's mean difference
    is two exact bigint divisions — so the double comparison against
    the observed difference is bitwise identical in both engines. One
    shuffle of B partial-sum rows per map partition; the observed-stat
    row broadcasts into the final one-row readout."""
    ev = read_table(spark, sf_dir, "events")
    base = ev.where(F.col("event_type").isin("purchase", "click")).select(
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("grp"),
    )
    obs = base.agg(
        F.sum(F.when(F.col("grp") == 1, F.col("cents")).otherwise(0)).alias("s1"),
        F.sum("grp").alias("n1"),
        F.sum(F.when(F.col("grp") == 0, F.col("cents")).otherwise(0)).alias("s0"),
        F.sum(F.lit(1) - F.col("grp")).alias("n0"),
    )
    mdiff = lambda: F.abs(  # noqa: E731
        F.col("s1").cast("double") / F.col("n1")
        - F.col("s0").cast("double") / F.col("n0")
    )
    od = obs.select(mdiff().alias("obs_diff"))
    # r8 (guide §2.5 input skew): the replicate branch is 200 md5s per
    # event but the single-file fixture scan is ONE task — measured
    # 8.6s of the query's 11.2s in that task. spread() round-robins the
    # filtered base rows (~8 bytes each) before the explode so the hash
    # work parallelizes; the tiny obs/od aggregates keep the plain scan.
    # sf0.1: 6.5s (healthy sweep) -> 1.4s.
    flips = spread(base).select(
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_NPERM - 1))).alias("b"),
        "event_id",
    ).select(
        "cents",
        "b",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", F.col("event_id").cast("string"), F.col("b").cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("flip"),
    )
    resamp = flips.groupBy("b").agg(
        F.sum(F.when(F.col("flip") == 1, F.col("cents")).otherwise(0)).alias("s1"),
        F.sum(F.when(F.col("flip") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("flip") == 0, F.col("cents")).otherwise(0)).alias("s0"),
        F.sum(F.when(F.col("flip") == 0, 1).otherwise(0)).alias("n0"),
    )
    rd = resamp.where((F.col("n1") > 0) & (F.col("n0") > 0)).select(
        mdiff().alias("adiff")
    )
    hits = rd.crossJoin(F.broadcast(od)).agg(
        F.count(F.lit(1)).alias("n_resamples"),
        F.sum(F.when(F.col("adiff") >= F.col("obs_diff"), 1).otherwise(0)).alias("ge"),
        F.max("obs_diff").alias("obs_diff"),
    )
    return hits.select(
        "n_resamples",
        (F.floor(F.col("obs_diff") * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)).alias(
            "obs_diff_cents"
        ),
        r6((F.lit(1.0) + F.col("ge")) / (F.lit(1.0) + F.col("n_resamples"))).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# feature_target_encode_loo — leakage-free categorical target encoding
# ---------------------------------------------------------------------------

_LOO_ORACLE = """
WITH o AS (
    SELECT o_orderkey, o_orderpriority AS cat,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
    FROM orders
),
cs AS (SELECT cat, sum(cents) AS s, count(*) AS n FROM o GROUP BY cat)
SELECT o_orderkey, cat,
       CASE WHEN n > 1
            THEN floor((CAST(s - cents AS DOUBLE) / (n - 1)) / 100.0 * 1e4 + 0.5)
                 / 1e4
            ELSE NULL END AS loo_target_mean
FROM o JOIN cs USING (cat)
"""


@query("feature_target_encode_loo", _LOO_ORACLE)
def feature_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of order priority against order
    value: each row's encoding is the category mean computed WITHOUT
    that row ((sum - y) / (n - 1)) — the standard leakage-free way to
    feed a high-cardinality categorical to a model, and a feature job a
    training platform materializes per snapshot.

    One hash aggregate builds the per-category (sum, count) table —
    category-bounded, broadcast back into the fact scan, so the encode
    itself is map-side (no second shuffle of the fact). Sums are exact
    integer cents; the LOO mean is a single bigint division per row."""
    orders = read_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("cat"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    cs = o.groupBy("cat").agg(F.sum("cents").alias("s"), F.count(F.lit(1)).alias("n"))
    return o.join(F.broadcast(cs), "cat").select(
        "o_orderkey",
        "cat",
        F.when(
            F.col("n") > 1,
            F.floor(
                (F.col("s") - F.col("cents")).cast("double")
                / (F.col("n") - 1)
                / F.lit(100.0)
                * F.lit(1e4)
                + F.lit(0.5)
            )
            / F.lit(1e4),
        ).alias("loo_target_mean"),
    )


# ---------------------------------------------------------------------------
# events_decay_score — recency-weighted engagement
# ---------------------------------------------------------------------------

_DECAY_ORACLE = """
WITH mx AS (SELECT max(ts) AS now_ts FROM events),
t AS (
    SELECT user_id,
           CAST(floor(exp(-0.05 * (date_diff('second', ts, now_ts) / 86400.0))
                      * 1e6 + 0.5) AS BIGINT) AS w_u
    FROM events, mx
)
SELECT user_id,
       count(*) AS n_events,
       floor(CAST(sum(w_u) AS DOUBLE) / 1e6 * 1e4 + 0.5) / 1e4 AS decay_score
FROM t GROUP BY user_id
"""


@query("events_decay_score", _DECAY_ORACLE)
def events_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted engagement score per user: each event counts
    exp(-0.05 * age_days) relative to the corpus high-water mark — the
    time-decay weighting every churn model and leaderboard uses instead
    of raw counts (yesterday's click outweighs last quarter's).

    The 'now' anchor is a broadcast 1-row max (never wall-clock — the
    `expr_getdate` pinning discipline); per-event weights quantize to
    integer micro-units immediately after the exp() so the per-user
    sums are partition-order immune, and ages are exact integer seconds
    divided once."""
    ev = read_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("now_ts"))
    age_days = (
        F.unix_timestamp(F.col("now_ts")) - F.unix_timestamp(F.col("ts"))
    ) / F.lit(86400.0)
    w_u = quant(F.exp(F.lit(-0.05) * age_days)).cast("long")
    return (
        ev.crossJoin(F.broadcast(mx))
        .select("user_id", w_u.alias("w_u"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.floor(F.sum("w_u").cast("double") / F.lit(1e6) * F.lit(1e4) + F.lit(0.5))
                / F.lit(1e4)
            ).alias("decay_score"),
        )
    )


# ---------------------------------------------------------------------------
# dq_sequence_gaps — missing-ID detection without a global sort
# ---------------------------------------------------------------------------

_GAPS_ORACLE = """
WITH present AS (
    SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 97 <> 0
),
blocks AS (
    SELECT k // 1000 AS blk, count(*) AS actual,
           min(k) AS lo, max(k) AS hi
    FROM present GROUP BY k // 1000
),
audit AS (
    SELECT blk, actual, hi - lo + 1 AS span,
           hi - lo + 1 - actual AS missing
    FROM blocks
)
SELECT blk, actual, span, missing
FROM audit WHERE missing > 0
ORDER BY missing DESC, blk LIMIT 10
"""


@query("dq_sequence_gaps", _GAPS_ORACLE)
def dq_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-ID audit over a surrogate-key sequence (orders with
    every 97th key deleted to simulate lost writes): per 1000-key
    block, how many keys inside the observed [min,max] span are absent
    — the ingest-completeness check that finds silently dropped
    batches.

    The scalable formulation: NO global sort and no lead/lag over the
    full table — per-block (key div 1000) min/max/count aggregates
    localize the arithmetic, the shuffle key is the block, and the
    top-10 report is TakeOrderedAndProject. (A lag() over the whole key
    sequence — the textbook gaps-and-islands form — would serialize
    billions of keys through a window sort at 100 TB.)"""
    orders = read_table(spark, sf_dir, "orders")
    present = orders.where(F.pmod(F.col("o_orderkey"), F.lit(97)) != 0).select(
        F.col("o_orderkey").alias("k")
    )
    blocks = present.groupBy((F.col("k") / 1000).cast("long").alias("blk")).agg(
        F.count(F.lit(1)).alias("actual"),
        F.min("k").alias("lo"),
        F.max("k").alias("hi"),
    )
    audit = blocks.select(
        "blk",
        "actual",
        (F.col("hi") - F.col("lo") + 1).alias("span"),
        (F.col("hi") - F.col("lo") + 1 - F.col("actual")).alias("missing"),
    )
    return (
        audit.where(F.col("missing") > 0)
        .orderBy(F.desc("missing"), F.asc("blk"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# dq_json_schema_profile — semi-structured schema census
# ---------------------------------------------------------------------------

_JSCHEMA_ORACLE = """
WITH minted AS (
    SELECT CASE event_id % 3
             WHEN 0 THEN props
             WHEN 1 THEN '{"k": ' || CAST(event_id % 50 AS VARCHAR)
                         || ', "tag": "a"}'
             ELSE '{"v": "s", "nested": null}'
           END AS doc
    FROM events
),
keyed AS (
    SELECT array_to_string(list_sort(json_keys(doc)), ',') AS key_set
    FROM minted
)
SELECT key_set, count(*) AS n_rows
FROM keyed GROUP BY key_set
"""


@query("dq_json_schema_profile", _JSCHEMA_ORACLE)
def dq_json_schema_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured schema census: group the event `props` JSON
    column by its sorted key-set signature and count documents per
    shape — the first profiling query run on any landed JSON feed
    (schema drift shows up as a new signature row, long before a reader
    breaks). Shape variety is minted deterministically (event_id % 3
    rotates three JSON shapes) since the fixture's props are uniform.

    Key extraction is JVM-side json_object_keys (no Python), the
    signature is a sorted join (order-canonical in both engines), and
    the census is one hash aggregate with a signature-bounded result."""
    ev = read_table(spark, sf_dir, "events")
    doc = (
        F.when(F.pmod(F.col("event_id"), F.lit(3)) == 0, F.col("props"))
        .when(
            F.pmod(F.col("event_id"), F.lit(3)) == 1,
            F.concat(
                F.lit('{"k": '),
                (F.col("event_id") % 50).cast("string"),
                F.lit(', "tag": "a"}'),
            ),
        )
        .otherwise(F.lit('{"v": "s", "nested": null}'))
    )
    keyed = ev.select(
        F.array_join(
            F.array_sort(F.json_object_keys(doc)), ","
        ).alias("key_set")
    )
    return keyed.groupBy("key_set").agg(F.count(F.lit(1)).alias("n_rows"))


# ---------------------------------------------------------------------------
# feature_pit_training_matrix — leakage-free feature-store assembly
# ---------------------------------------------------------------------------

_PIT_ORACLE = """
WITH base AS (
    SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
           CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
    FROM orders
),
feat AS (
    SELECT o_orderkey, o_custkey, label,
           count(*) OVER w AS f_prior_orders,
           coalesce(sum(cents) OVER w, 0) AS f_prior_cents,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) - 1
               AS f_order_seq
    FROM base
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                 RANGE BETWEEN INTERVAL 30 DAY PRECEDING
                 AND INTERVAL 1 SECOND PRECEDING)
)
SELECT f.o_orderkey AS orderkey, f.label,
       CAST(f.f_prior_orders AS BIGINT) AS f_prior_orders_30d,
       floor(CAST(f.f_prior_cents AS DOUBLE)) / 100.0 AS f_prior_revenue_30d,
       CAST(f.f_order_seq AS BIGINT) AS f_order_seq,
       CAST(floor(c.c_acctbal / 1000.0) AS BIGINT) AS f_balance_band,
       n.n_name AS f_nation
FROM feat f
JOIN customer c ON c.c_custkey = f.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
"""


@query("feature_pit_training_matrix", _PIT_ORACLE)
def feature_pit_training_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct training matrix assembly — the feature-store
    join: for every labeled order, attach (a) rolling behavioral
    features computed STRICTLY BEFORE the label timestamp (30-day prior
    order count and revenue via a RANGE frame that excludes the current
    row — the leakage boundary), (b) a monotonic order-sequence feature,
    and (c) static dim features (balance band, nation). This is the job
    every training pipeline runs between the warehouse and the trainer,
    and the one where off-by-one frames silently leak the future.

    One exchange on o_custkey serves all three windows; dim features
    broadcast. The RANGE frame's upper bound is 1 second preceding —
    same-day earlier orders are excluded symmetrically in both engines
    (date-grain timestamps make 'strictly before' exact)."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_nationkey"
    )
    nat = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    base = orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("label"),
        F.unix_timestamp("o_orderdate").alias("sec"),
    )
    wr = (
        Window.partitionBy("o_custkey")
        .orderBy("sec")
        .rangeBetween(-30 * 86400, -1)
    )
    ws = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    feat = base.select(
        "o_orderkey",
        "o_custkey",
        "label",
        F.count(F.lit(1)).over(wr).alias("f_prior_orders"),
        F.coalesce(F.sum("cents").over(wr), F.lit(0)).alias("f_prior_cents"),
        (F.row_number().over(ws) - 1).alias("f_order_seq"),
    )
    return (
        feat.join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nat), F.col("n_nationkey") == F.col("c_nationkey"))
        .select(
            F.col("o_orderkey").alias("orderkey"),
            "label",
            F.col("f_prior_orders").cast("long").alias("f_prior_orders_30d"),
            (F.floor(F.col("f_prior_cents").cast("double")) / F.lit(100.0)).alias(
                "f_prior_revenue_30d"
            ),
            F.col("f_order_seq").cast("long").alias("f_order_seq"),
            F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("long").alias(
                "f_balance_band"
            ),
            F.col("n_name").alias("f_nation"),
        )
    )
