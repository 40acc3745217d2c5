"""Decision-support query shapes the reference's pushed-down SQL never
reaches: correlated scalar subqueries, outer-join count distributions,
anti-joins gated by a global scalar, argmax join-backs, and multi-dim
volume rollups (TPC-H Q17/Q13/Q22/Q15/Q7 shapes over the fixture star
schema).

The reference (SURVEY.md §2.4/§2.5) only ever joins fact->dim and
aggregates flat groups; a user switching engines also needs the
subquery tier. Spark has no correlated-subquery DataFrame syntax, so
each shape is decorrelated by hand into the plan Catalyst itself would
produce: the correlated aggregate becomes a grouped aggregate joined
back on the correlation key; the scalar subquery becomes a broadcast
1-row cross join. That decorrelation is exactly what survives at 100 TB
— the per-key aggregate shuffles once on the same key the probe join
needs, so AQE can plan both in one exchange reuse.

Float discipline: every scalar threshold that gates a row (Q17's
0.5*avg, Q22's global avg, Q15's max) is rounded half-up to 6dp in BOTH
engines before the comparison, so an ulp of summation-order difference
can never flip row membership (see operators/similarity.py note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.det import r6
from ..registry import query
from ..sources import read_table


_R6 = "floor(({}) * 1e6 + 0.5) / 1e6"


@query(
    "subq_scalar_avg",
    f"""
    SELECT p_brand,
           count(*) AS n_small,
           round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_quantity < {_R6.format(
        "(SELECT 0.5 * avg(l_quantity) FROM lineitem li2"
        " WHERE li2.l_partkey = lineitem.l_partkey)")}
    GROUP BY p_brand
    """,
)
def subq_scalar_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from small-quantity line items, where
    "small" is correlated — below half the part's own average quantity.

    Decorrelated: one grouped aggregate over lineitem keyed on
    l_partkey, joined back to lineitem on the same key. Both sides
    shuffle on l_partkey once; AQE reuses the exchange. No per-row
    subquery execution anywhere — the correlated form would be O(n²)
    on a naive engine, this is two scans + one co-partitioned join.
    """
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    thresh = li.groupBy("l_partkey").agg(
        r6(F.avg("l_quantity") * 0.5).alias("qty_thresh")
    )
    return (
        li.join(thresh, "l_partkey")
        .where(F.col("l_quantity") < F.col("qty_thresh"))
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
        )
    )


@query(
    "agg_count_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def agg_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts,
    including zero-order customers (the left join keeps them; count of
    a null key is 0).

    The join predicate filters the RIGHT side inside the join (not a
    post-filter, which would turn customers with only urgent orders
    into false drops). Second aggregate is over at most |customer|
    rows with a tiny key domain — map-side partial aggregation
    collapses it before the shuffle.
    """
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "subq_antijoin_topbal",
    f"""
    SELECT c_mktsegment,
           count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > {_R6.format(
        "(SELECT avg(c_acctbal) FROM customer c2 WHERE c2.c_acctbal > 0)")}
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    """,
)
def subq_antijoin_topbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: well-funded customers with no urgent orders —
    a global scalar threshold (avg positive balance) gating an
    anti-join with a pushed-down predicate on the anti side.

    The scalar is a 1-row aggregate broadcast via cross join — no
    collect() round-trip to the driver, so the whole thing stays one
    job and the threshold never transits Python. NOT EXISTS is a
    left_anti join: at scale orders is the big side, and left_anti
    shuffles only the distinct probe keys it needs.
    """
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    avg_bal = cust.where(F.col("c_acctbal") > 0).agg(
        r6(F.avg("c_acctbal")).alias("bal_thresh")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("bal_thresh"))
        .join(
            orders.where(F.col("o_orderpriority") == "1-URGENT"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@query(
    "subq_max_joinback",
    """
    WITH revenue AS (
        SELECT l_suppkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        FROM lineitem
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def subq_max_joinback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the top-revenue supplier(s) — an uncorrelated
    MAX subquery joined back against the aggregate that produced it.

    Revenue is rounded to cents BEFORE both the max and the equality,
    so the join-back can never miss its own max to a float ulp. The
    1-row max is broadcast; supplier (a dim) is broadcast onto the
    surviving rows. lineitem is scanned once — Spark reuses the
    shuffle output of the revenue aggregate for both branches.
    """
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier")
    revenue = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.crossJoin(F.broadcast(max_rev))
        .where(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "join_volume_shipping",
    """
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT) AS ship_year,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2))
                          * (1 - CAST(l_discount AS DECIMAL(6,4)))), 2)
                AS DOUBLE) AS volume
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE n1.n_nationkey <> n2.n_nationkey
    GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
    """,
)
def join_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-border trade volume by (supplier nation,
    customer nation, ship year). One dim (nation) joined in two roles
    via aliases — the reference's join_left_person_role2 pattern
    (SURVEY.md §2.4) scaled up to a 5-way star join.

    Join order matters at 100 TB: lineitem⋈orders is the only
    big-big join (both shuffle on orderkey); supplier, customer and
    both nation roles are broadcast, so they add zero exchanges.
    The group key is ~25·25·|years| — partial aggregation collapses
    the fact table map-side.
    """
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    supp = read_table(spark, sf_dir, "supplier")
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("n1_key") == F.col("s_nationkey"))
        .join(F.broadcast(n2), F.col("n2_key") == F.col("c_nationkey"))
        .where(F.col("n1_key") != F.col("n2_key"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("ship_year"))
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(14,2)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(6,4)"))
                ),
                2,
            )
            .cast("double")
            .alias("volume")
        )
    )


_DEC_REV_SQL = "CAST(l_extendedprice AS DECIMAL(14,2)) * (1 - CAST(l_discount AS DECIMAL(6,4)))"


@query(
    "join_region_volume",
    f"""
    SELECT n_name,
           CAST(round(sum({_DEC_REV_SQL}), 2) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
    JOIN nation   ON n_nationkey = c_nationkey
    JOIN region   ON r_regionkey = n_regionkey
    WHERE r_name = 'ASIA' AND year(o_orderdate) = 1996
    GROUP BY n_name
    """,
)
def join_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation where supplier and customer
    share the nation, scoped to one region and one year.

    The same-nation constraint rides INSIDE the supplier join condition
    (equi-join on two keys), not as a post-filter — so the join builds
    only matching pairs. region→nation prunes to the 5 Asian nations
    before anything big happens; the year predicate pushes to the
    orders scan. Revenue is decimal-exact then rounded, so group sums
    can't flip a cent on summation order."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    dec_rev = F.col("l_extendedprice").cast("decimal(14,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(6,4)")
    )
    return (
        li.join(orders.where(F.year("o_orderdate") == 1996),
                F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(
            F.broadcast(supp),
            (F.col("s_suppkey") == F.col("l_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .join(
            F.broadcast(region.where(F.col("r_name") == "ASIA")),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(dec_rev), 2).cast("double").alias("revenue"))
    )


@query(
    "agg_product_profit",
    f"""
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(round(sum({_DEC_REV_SQL}
                          - CAST(p_retailprice AS DECIMAL(14,2))
                            * CAST(l_quantity AS DECIMAL(8,2))
                            * CAST(0.01 AS DECIMAL(4,2))), 2) AS DOUBLE) AS profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, year(o_orderdate)
    """,
)
def agg_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit (revenue minus a 1%-of-retail carrying
    cost) by supplier nation and order year, restricted to parts whose
    name contains 'red'.

    The LIKE filter lands on the part scan and shrinks the broadcast
    dim before the fact join; every money term stays in decimal through
    the subtraction and sum (mixed double subtraction is where
    summation-order cent flips breed). Only lineitem⋈orders shuffles."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    orders = read_table(spark, sf_dir, "orders")
    profit = (
        F.col("l_extendedprice").cast("decimal(14,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(6,4)"))
        - F.col("p_retailprice").cast("decimal(14,2)")
        * F.col("l_quantity").cast("decimal(8,2)")
        * F.lit(0.01).cast("decimal(4,2)")
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 2).cast("double").alias("profit"))
    )


@query(
    "agg_promo_share",
    f"""
    SELECT CAST(round(sum(CASE WHEN p_type = 'PROMO' THEN {_DEC_REV_SQL}
                               ELSE CAST(0 AS DECIMAL(14,2)) END), 2) AS DOUBLE)
               AS promo_revenue,
           CAST(round(sum({_DEC_REV_SQL}), 2) AS DOUBLE) AS total_revenue,
           floor(CAST(sum(CASE WHEN p_type = 'PROMO' THEN {_DEC_REV_SQL}
                               ELSE CAST(0 AS DECIMAL(14,2)) END) AS DOUBLE)
                 / CAST(sum({_DEC_REV_SQL}) AS DOUBLE) * 100 * 1e6 + 0.5) / 1e6
               AS promo_pct
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE year(l_shipdate) = 1996
    """,
)
def agg_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share — a conditional aggregate
    divided by its unconditional twin in one pass.

    Both sums run decimal-exact in the same aggregate (one scan, one
    shuffle of two partial sums); the ratio divides AFTER casting the
    exact sums to double, then rounds half-up — ratios of exact values
    are engine-stable, ratios of independently-rounded doubles are not."""
    li = read_table(spark, sf_dir, "lineitem").where(F.year("l_shipdate") == 1996)
    part = read_table(spark, sf_dir, "part")
    dec_rev = F.col("l_extendedprice").cast("decimal(14,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(6,4)")
    )
    promo = F.when(F.col("p_type") == "PROMO", dec_rev).otherwise(
        F.lit(0).cast("decimal(14,2)")
    )
    joined = li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
    return joined.agg(
        F.round(F.sum(promo), 2).cast("double").alias("promo_revenue"),
        F.round(F.sum(dec_rev), 2).cast("double").alias("total_revenue"),
        r6(
            F.sum(promo).cast("double") / F.sum(dec_rev).cast("double") * 100
        ).alias("promo_pct"),
    )


@query(
    "filter_disjunctive_join",
    f"""
    SELECT count(*) AS n,
           CAST(round(sum({_DEC_REV_SQL}), 2) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def filter_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: an OR of three AND-blocks mixing columns from
    both join sides — the classic test of predicate decomposition.

    Catalyst splits the disjunction: the part-only residue
    (brand/size unions) prunes the broadcast dim scan, the
    lineitem-only residue (quantity between 1 and 30 overall) pushes to
    the fact scan, and only the cross-side conjunctions remain as the
    join's residual condition. Writing this as a post-join filter would
    read both tables in full."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    dec_rev = F.col("l_extendedprice").cast("decimal(14,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(6,4)")
    )
    cond = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .where(cond)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(dec_rev), 2).cast("double").alias("revenue"),
        )
    )
