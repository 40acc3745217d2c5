"""The remaining TPC-H decision-support shapes (Q2, Q4, Q6, Q8, Q10,
Q11, Q12, Q16, Q18, Q20) over the fixture star schema.

Together with plans/tpch_shapes.py (Q1/Q3/Q5/Q7/Q9/Q13/Q14/Q15/Q17/
Q19/Q21/Q22) this completes all 22 TPC-H query shapes — the full
decision-support surface a user of the reference's pushed-down SQL
tier (SURVEY.md §2.5, reference mssql_to_es.py:41-70) could express
upstream, re-planned Spark-first.

The fixture has no ``partsupp`` table, so the four partsupp-based
queries (Q2/Q11/Q16/Q20) derive the part-supplier relationship from
``lineitem``: the distinct (l_partkey, l_suppkey) pairs ARE the
supply catalog, per-pair aggregates (min unit price, total quantity)
stand in for ps_supplycost / ps_availqty. That derivation is itself
the interesting scale problem: it is a groupBy over the fact table
keyed on (partkey, suppkey) — at 100 TB it map-side combines down to
the catalog size (~|part|·4) before the shuffle, after which every
downstream join is dimension-sized and broadcastable.

Numeric discipline (see tpch_shapes.py / warehouse_ops.py notes):
- money sums go through DECIMAL, are rounded, and only then cast to
  double — a double sum differs across engines in summation order;
- ratios of two exact decimal sums (Q8, Q14-style) are computed in
  pure integer arithmetic — DuckDB's DECIMAL->DOUBLE cast is not
  correctly rounded where Spark's is, so the division never touches
  floats;
- scalar thresholds that gate row membership (Q11's fraction of the
  global total) stay DECIMAL end to end so the comparison is exact
  in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.det import r6
from ..registry import query
from ..sources import read_table

# Exact-money revenue term shared by several queries (see
# join_volume_shipping): decimal end to end, rounded, then double.
_DEC_VOLUME_SQL = (
    "CAST(l_extendedprice AS DECIMAL(14,2)) * (1 - CAST(l_discount AS DECIMAL(6,4)))"
)


def _dec_volume():
    return F.col("l_extendedprice").cast("decimal(14,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(6,4)")
    )


# ---------------------------------------------------------------- Q6


@query(
    "agg_filtered_revenue",
    """
    SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2))
                          * CAST(l_discount AS DECIMAL(6,4))), 2) AS DOUBLE)
               AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.04 AND 0.07
      AND l_quantity < 24
    """,
)
def agg_filtered_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: revenue delta from a hypothetical discount change —
    a pure scan-filter-aggregate with no join and no group key.

    This is the canonical pushdown showcase: all three predicates
    (date range, discount band, quantity cap) reach the parquet
    reader as PushedFilters, row groups outside the ship-year are
    skipped on min/max stats, and ReadSchema is 3 columns of 11.
    At 100 TB the scan cost IS the query cost, so pushdown here is
    the whole game. Single-row result: partial sums per partition,
    one tiny final reduce — no meaningful shuffle.
    """
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(14,2)")
                    * F.col("l_discount").cast("decimal(6,4)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------- Q4


@query(
    "subq_exists_late",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    """,
)
def subq_exists_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders in one quarter having at least one line
    item shipped more than 30 days after the order date (the fixture
    has no commit/receipt dates, so "late" is ship-lag > 30d),
    counted by priority.

    The EXISTS becomes a LEFT SEMI join with the lag predicate
    *inside* the join condition — the correlated o_orderdate rides
    along as a join-side column, no per-row subquery. Both sides
    shuffle once on orderkey; the quarter filter prunes orders
    before the shuffle, so the semi join probes a ~2% slice. The
    final aggregate has a 5-value key — map-side combine collapses
    it entirely.
    """
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    quarter = orders.where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    late = quarter.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


# --------------------------------------------------------------- Q10


@query(
    "agg_returned_topk",
    """
    SELECT c_custkey, c_name, n_name,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2))
                          * (1 - CAST(l_discount AS DECIMAL(6,4)))), 2)
                AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def agg_returned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by revenue lost to returns in one
    quarter.

    lineitem⋈orders is the single big-big join (shuffle on
    orderkey); customer and nation broadcast. The returnflag and
    quarter filters are pushed into their scans, shrinking the
    shuffle to the 'R' slice of one quarter. The top-20 runs as
    TakeOrderedAndProject — per-partition heaps, no global sort —
    with c_custkey as tiebreak so the cut is deterministic in both
    engines.
    """
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    nation = read_table(spark, sf_dir, "nation")
    return (
        li.where(F.col("l_returnflag") == "R")
        .join(
            orders.where(
                (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(_dec_volume()), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------- Q12


@query(
    "agg_priority_by_flag",
    """
    SELECT l_returnflag,
           sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS high_line_count,
           sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_shipdate <  TIMESTAMP '1999-01-01'
    GROUP BY l_returnflag
    """,
)
def agg_priority_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: for line items shipped in 1998, how many came
    from urgent/high-priority orders vs the rest, per return flag
    (the fixture's stand-in for ship mode).

    The conditional counts are a single pass — two CASE sums over
    one joined relation, not two filtered joins. Ship-year filter
    pushes to the lineitem scan; the join shuffles both sides on
    orderkey once; 3-value group key collapses map-side.
    """
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
        )
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# --------------------------------------------------------------- Q18


@query(
    "subq_big_orders",
    """
    SELECT c_custkey, c_name, o_orderkey,
           CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
           o_totalprice,
           sum(l_quantity) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING sum(l_quantity) > 230)
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    """,
)
def subq_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: large-volume orders — the IN-subquery over a grouped
    HAVING becomes an aggregate-then-semi-join.

    Spark-first decorrelation: sum l_quantity per orderkey once,
    filter > 230, LEFT SEMI join orders against the survivors. The
    per-order aggregate and the orders⋈lineitem join shuffle on the
    SAME key (orderkey), so AQE reuses the exchange — the fact table
    is read once and shuffled once. Quantities are small integers;
    their double sums are exact, no decimal needed.
    """
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 230)
    )
    return (
        orders.join(
            big.select("l_orderkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
            "left_semi",
        )
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("total_qty"))
    )


# ---------------------------------------------------------------- Q2


@query(
    "subq_min_cost_supplier",
    """
    WITH ps AS (
        SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               floor(min(l_extendedprice / l_quantity) * 1e6 + 0.5) / 1e6
                   AS ps_unitcost
        FROM lineitem GROUP BY 1, 2
    ),
    eu AS (
        SELECT ps_partkey, ps_suppkey, ps_unitcost, s_name, s_acctbal, n_name
        FROM ps
        JOIN supplier ON s_suppkey = ps_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_unitcost
    FROM eu
    JOIN part ON p_partkey = ps_partkey
    WHERE p_type = 'ECONOMY' AND p_size % 10 = 5
      AND ps_unitcost = (SELECT min(e2.ps_unitcost) FROM eu e2
                         WHERE e2.ps_partkey = eu.ps_partkey)
    """,
)
def subq_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the European
    supplier(s) offering the minimum unit cost. The supply catalog is
    derived from lineitem (no partsupp in the fixture): distinct
    (partkey, suppkey) with min observed unit price.

    Two scale moves: (1) the catalog derivation map-side combines the
    fact table down to ~|part|·4 rows before its shuffle, and every
    join after it is dimension-sized and broadcast; (2) the
    correlated min-subquery is decorrelated into a grouped min over
    the Europe-filtered catalog joined back on partkey — the classic
    argmin join-back, same exchange on both sides.

    Unit cost is a single IEEE division rounded half-up to 6dp in
    both engines, so the min-equality can never be flipped by an ulp.
    """
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    part = read_table(spark, sf_dir, "part")
    ps = li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        r6(F.min(F.col("l_extendedprice") / F.col("l_quantity"))).alias("ps_unitcost")
    )
    eu = (
        ps.join(F.broadcast(supp), F.col("s_suppkey") == F.col("ps_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .where(F.col("r_name") == "EUROPE")
        .select("ps_partkey", "ps_suppkey", "ps_unitcost", "s_name", "s_acctbal", "n_name")
    )
    best = eu.groupBy(F.col("ps_partkey").alias("min_partkey")).agg(
        F.min("ps_unitcost").alias("min_cost")
    )
    qual_part = part.where(
        (F.col("p_type") == "ECONOMY") & (F.col("p_size") % 10 == 5)
    )
    return (
        eu.join(
            best,
            (F.col("ps_partkey") == F.col("min_partkey"))
            & (F.col("ps_unitcost") == F.col("min_cost")),
        )
        .join(F.broadcast(qual_part), F.col("p_partkey") == F.col("ps_partkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand", "ps_unitcost")
    )


# --------------------------------------------------------------- Q11


@query(
    "agg_value_concentration",
    """
    WITH ps AS (
        SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS v
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY 1
    )
    SELECT l_partkey, CAST(v AS DOUBLE) AS part_value
    FROM ps
    WHERE v > (SELECT sum(v) FROM ps) * CAST(0.0009 AS DECIMAL(10,6))
    """,
)
def agg_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose Asian-supplied trade value exceeds
    0.09% of the total — inventory concentration screening.

    The global scalar (total value) is the decorrelated form of the
    uncorrelated subquery: aggregate the per-part values to one row,
    broadcast it as a 1-row cross join, filter. The per-part
    aggregate shuffles once; the scalar pass reuses its output, not
    the fact table. Value sums stay DECIMAL through the comparison —
    the threshold gates row membership, so it must be exact in both
    engines (a double total at 1e9 magnitude carries ulp noise).
    DECIMAL(14,2) sums are exact; the final cast to double is the
    same correctly-rounded value in Spark, and DuckDB casts the
    identical decimal, so the output column matches bit-for-bit.
    """
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    ps = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .where(F.col("r_name") == "ASIA")
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(14,2)")).alias("v"))
    )
    total = ps.agg(
        (F.sum("v") * F.lit("0.0009").cast("decimal(10,6)")).alias("thresh")
    )
    return (
        ps.join(F.broadcast(total))
        .where(F.col("v") > F.col("thresh"))
        .select("l_partkey", F.col("v").cast("double").alias("part_value"))
    )


# --------------------------------------------------------------- Q16


@query(
    "agg_supplier_variety",
    """
    SELECT p_brand, p_type, p_size,
           count(DISTINCT ps_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
          FROM lineitem) ps
    JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> 'Brand#9'
      AND p_type NOT LIKE 'SMALL%'
      AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
                             WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def agg_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can provide each
    qualifying (brand, type, size) — excluding suppliers in arrears
    (negative account balance stands in for the complaints filter).

    The NOT IN over a key column becomes a LEFT ANTI join against
    the (tiny, broadcast) bad-supplier list — NULL-safe here because
    s_suppkey is a key. The distinct-pair derivation map-side
    combines the fact table; the part join broadcasts the filtered
    dimension; count(DISTINCT) over the already-distinct pairs is a
    plain count after dedup — Spark plans it as a two-phase
    partial/final aggregate without expansion.
    """
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    supp = read_table(spark, sf_dir, "supplier")
    ps = li.select(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).distinct()
    bad = supp.where(F.col("s_acctbal") < 0).select("s_suppkey")
    qual_part = part.where(
        (F.col("p_brand") != "Brand#9")
        & (~F.col("p_type").like("SMALL%"))
        & (F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
    )
    return (
        ps.join(
            F.broadcast(bad),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(qual_part), F.col("p_partkey") == F.col("ps_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("ps_suppkey").alias("supplier_cnt"))
    )


# --------------------------------------------------------------- Q20


@query(
    "subq_excess_stock",
    """
    WITH ps AS (
        SELECT l_partkey, l_suppkey,
               sum(l_quantity) AS qty_total,
               sum(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01'
                         AND l_shipdate <  TIMESTAMP '1999-01-01'
                        THEN l_quantity ELSE 0 END) AS qty_1998
        FROM lineitem GROUP BY 1, 2
    )
    SELECT DISTINCT s_suppkey, s_name, s_acctbal, n_name
    FROM ps
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE qty_1998 > 0 AND qty_total > 2.5 * qty_1998
      AND l_partkey IN (SELECT p_partkey FROM part
                        WHERE p_name LIKE '%red%')
    """,
)
def subq_excess_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers sitting on excess stock of red
    parts — their all-time supplied quantity is more than 2.5× what
    actually moved in 1998 (availqty > 0.5·shipped in the original;
    same nested-semi-join skeleton, fixture-derived quantities).

    Decorrelated inside-out: one grouped pass over lineitem computes
    both the all-time and the 1998 quantity per (partkey, suppkey)
    as conditional sums — ONE shuffle instead of the two correlated
    scans the literal SQL implies. The part-name filter is a LEFT
    SEMI against the broadcast filtered dimension; the surviving
    pairs project to distinct suppliers. Quantity sums are small
    integers in doubles — exact, and 2.5× stays exact (binary
    fraction), so the gate cannot ulp-flip.
    """
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    part = read_table(spark, sf_dir, "part")
    in98 = (
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("qty_total"),
        F.sum(F.when(in98, F.col("l_quantity")).otherwise(0.0)).alias("qty_1998"),
    )
    red = part.where(F.col("p_name").like("%red%")).select("p_partkey")
    return (
        ps.where(
            (F.col("qty_1998") > 0) & (F.col("qty_total") > 2.5 * F.col("qty_1998"))
        )
        .join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
        .distinct()
    )


# ---------------------------------------------------------------- Q8


@query(
    "agg_market_share",
    """
    WITH flat AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               CAST(l_extendedprice AS DECIMAL(14,2))
                   * (1 - CAST(l_discount AS DECIMAL(6,4))) AS volume,
               sn.n_name AS supp_nation
        FROM lineitem
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN part     ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation sn ON sn.n_nationkey = s_nationkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation cn ON cn.n_nationkey = c_nationkey
        JOIN region   ON r_regionkey = cn.n_regionkey
        WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
    )
    SELECT o_year,
           CAST((CAST(num * 20000 AS HUGEINT) * 1000000
                 + CAST(den * 10000 AS HUGEINT))
                // (CAST(den * 20000 AS HUGEINT)) AS DOUBLE) / 1e6
               AS mkt_share
    FROM (
        SELECT o_year,
               sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                        ELSE CAST(0 AS DECIMAL(14,4)) END) AS num,
               sum(volume) AS den
        FROM flat GROUP BY o_year
    )
    """,
)
def agg_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_3's share of the American ECONOMY-part market
    per order year — a ratio of conditional revenue sums over a
    7-way star join.

    Join strategy at scale: lineitem⋈orders is the only big-big
    join; part, supplier, customer, both nation roles and region all
    broadcast (the customer-side chain customer→nation→region
    collapses to one broadcast filter on the orders side). The
    conditional numerator avoids a second join pass — one flat
    relation, two CASE sums.

    The share is a ratio of two exact DECIMAL sums computed with the
    integer-division idiom (floor(num/den·1e6 + ½) as pure integer
    ops) because DuckDB's DECIMAL→DOUBLE cast is not correctly
    rounded where Spark's is — the division never touches floats
    (see events_time_weighted_avg).
    """
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    part = read_table(spark, sf_dir, "part")
    supp = read_table(spark, sf_dir, "supplier")
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    flat = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            F.broadcast(part.where(F.col("p_type") == "ECONOMY")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(sn), F.col("sn_key") == F.col("s_nationkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(cn), F.col("cn_key") == F.col("c_nationkey"))
        .join(
            F.broadcast(region.where(F.col("r_name") == "AMERICA")),
            F.col("r_regionkey") == F.col("cn_region"),
        )
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            _dec_volume().alias("volume"),
            "supp_nation",
        )
    )
    agg = flat.groupBy("o_year").agg(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(
                F.lit(0).cast("decimal(14,4)")
            )
        ).alias("num"),
        F.sum("volume").alias("den"),
    )
    # floor(num/den*1e6 + 0.5) in pure integer arithmetic:
    # (num*20000*1e6 + den*10000) div (den*20000) — scale-4 decimals
    # times 2e4 are exact integers, and den*10000 is the exact half
    # of the den*20000 denominator.
    q6 = F.expr(
        "(CAST(num * 20000 AS DECIMAL(30,0)) * 1000000"
        " + CAST(den * 10000 AS DECIMAL(30,0)))"
        " div (CAST(den * 20000 AS DECIMAL(30,0)))"
    )
    return agg.select("o_year", (q6.cast("double") / 1e6).alias("mkt_share"))
