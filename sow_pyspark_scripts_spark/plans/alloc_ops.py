"""Ledger / allocation tier: sequential-looking business computations
re-expressed as closed-form window algebra — the class of "runs in a
for-loop in the legacy system" jobs (inventory ledgers, seat/budget
apportionment, variance bridges) that a Spark platform must absorb
without per-row iteration.

The reference has no allocation surface; this tier extends its
incremental month-bucket ledger idea (`preprocess_and_store_parquets.py:106-109,163`
— sequential driver loop over buckets) with the distributed forms:

Scale notes baked into each builder:
- the capped running balance is the textbook "needs a sequential scan"
  recurrence (B_t = max(0, B_{t-1} + x_t)). It is NOT iterated: the
  Skorokhod reflection identity B_t = S_t - min(0, min_{s<=t} S_s)
  turns it into one prefix sum + one prefix min over the SAME keyed
  window — two window functions, one shuffle keyed on supplier. The
  fact collapses to (supplier, month) grain first, so the window
  orders a calendar-bounded relation per key, never raw rows;
- largest-remainder apportionment never compares float remainders:
  seats*rev is decomposed with integer div/mod against the exact
  cents total, so base seats and remainder ranks are bigint-exact
  (DECIMAL(38,0) at 100 TB — the shape is unchanged). The rank runs
  over the tiny (nation x segment) rollup; the two scalar totals
  broadcast back (BroadcastNestedLoopJoin of one row, never a
  shuffle);
- the mix-shift bridge is ONE conditional hash aggregate over the
  two-period scan (year predicate pushed to the parquet reader);
  period totals are a second aggregate of the ~5-row rollup. No
  self-join of the fact against itself per period.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.det import r6
from ..registry import query
from ..sources import read_table


# ---------------------------------------------------------------------------
# win_capped_running_sum — floor-at-zero inventory ledger via reflection
# ---------------------------------------------------------------------------

_CAPPED_ORACLE = """
WITH flows AS (
    SELECT l_suppkey,
           strftime(l_shipdate, '%Y-%m') AS month,
           SUM(CASE WHEN l_returnflag = 'N'
                    THEN CAST(l_quantity AS BIGINT)
                    ELSE -CAST(l_quantity AS BIGINT) END) AS net_qty
    FROM lineitem
    GROUP BY 1, 2
),
summed AS (
    SELECT l_suppkey, month, net_qty,
           SUM(net_qty) OVER (PARTITION BY l_suppkey ORDER BY month
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS prefix_qty
    FROM flows
),
prefixed AS (
    SELECT *,
           MIN(prefix_qty) OVER (PARTITION BY l_suppkey ORDER BY month
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS run_min
    FROM summed
)
SELECT l_suppkey, month, net_qty, prefix_qty,
       prefix_qty - LEAST(run_min, 0) AS capped_balance
FROM prefixed
"""


@query("win_capped_running_sum", _CAPPED_ORACLE)
def win_capped_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-at-zero running inventory balance per supplier: receipts
    ('N' lines) add stock, returns/audited lines drain it, and the
    balance can never go below zero (you cannot ship stock you do not
    have). The naive form is the sequential recurrence
    B_t = max(0, B_{t-1} + x_t) — a per-row loop no window function
    expresses directly. The Skorokhod reflection identity collapses it
    to closed form: B_t = S_t - min(0, min_{s<=t} S_s), i.e. one
    prefix SUM and one prefix MIN over the same keyed window. The fact
    aggregates to (supplier, month) grain first (calendar-bounded rows
    per key), quantities cast to exact bigint, so both windows are
    integer-exact and the single shuffle keys on l_suppkey — per-key
    window work stays bounded at any fact size. Generalizes the
    reference's sequential month-bucket driver loop
    (`preprocess_and_store_parquets.py:163`) into a distributed ledger.
    """
    li = read_table(spark, sf_dir, "lineitem")
    flows = li.groupBy(
        "l_suppkey", F.date_format("l_shipdate", "yyyy-MM").alias("month")
    ).agg(
        F.sum(
            F.when(
                F.col("l_returnflag") == "N", F.col("l_quantity").cast("long")
            ).otherwise(-F.col("l_quantity").cast("long"))
        ).alias("net_qty")
    )
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prefixed = flows.withColumn("prefix_qty", F.sum("net_qty").over(w)).withColumn(
        "run_min", F.min("prefix_qty").over(w)
    )
    return prefixed.select(
        "l_suppkey",
        "month",
        "net_qty",
        "prefix_qty",
        (F.col("prefix_qty") - F.least(F.col("run_min"), F.lit(0))).alias(
            "capped_balance"
        ),
    )


# ---------------------------------------------------------------------------
# agg_largest_remainder — Hamilton apportionment of a fixed seat budget
# ---------------------------------------------------------------------------

_SEATS = 1000

_APPORTION_ORACLE = f"""
WITH rev AS (
    SELECT n.n_name, c.c_mktsegment,
           SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_cents
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
),
tot AS (SELECT SUM(rev_cents) AS total_cents FROM rev),
quota AS (
    SELECT r.n_name, r.c_mktsegment, r.rev_cents,
           ({_SEATS} * r.rev_cents) // t.total_cents AS base_seats,
           ({_SEATS} * r.rev_cents) % t.total_cents AS remainder
    FROM rev r, tot
    t
),
ranked AS (
    SELECT *,
           ROW_NUMBER() OVER (ORDER BY remainder DESC, n_name, c_mktsegment)
               AS rem_rank,
           SUM(base_seats) OVER () AS base_total
    FROM quota
)
SELECT n_name, c_mktsegment, rev_cents,
       base_seats + CASE WHEN rem_rank <= {_SEATS} - base_total
                         THEN 1 ELSE 0 END AS seats
FROM ranked
"""


@query("agg_largest_remainder", _APPORTION_ORACLE)
def agg_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamilton (largest-remainder) apportionment: divide a fixed
    budget of 1000 sampling slots across (nation x market-segment)
    cells proportionally to revenue, with the integer allocations
    summing EXACTLY to 1000 — the primitive behind proportional
    training-data quotas ("give each domain slots ∝ its token share,
    integer, total fixed"). Float quotas cannot guarantee the total;
    here seats*rev_cents is decomposed with bigint div/mod against the
    exact cents total, so base seats and remainders are integer-exact
    and the leftover seats go to the largest remainders
    (deterministic name tie-break). The fact collapses to a ~125-row
    rollup in one hash aggregate (dims broadcast); the scalar total
    joins back as a broadcast single row; the remainder rank orders
    only the rollup. At 100 TB the bigint accumulators become
    DECIMAL(38,0); no shape change.
    """
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    rev = (
        orders.join(
            F.broadcast(cust), orders.o_custkey == cust.c_custkey
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "c_mktsegment")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("rev_cents")
        )
    )
    tot = rev.agg(F.sum("rev_cents").alias("total_cents"))
    quota = rev.join(F.broadcast(tot)).select(
        "n_name",
        "c_mktsegment",
        "rev_cents",
        F.expr(f"({_SEATS} * rev_cents) div total_cents").alias("base_seats"),
        F.expr(f"({_SEATS} * rev_cents) % total_cents").alias("remainder"),
    )
    w = Window.orderBy(F.desc("remainder"), "n_name", "c_mktsegment")
    ranked = quota.withColumn("rem_rank", F.row_number().over(w)).withColumn(
        "base_total", F.sum("base_seats").over(Window.partitionBy())
    )
    return ranked.select(
        "n_name",
        "c_mktsegment",
        "rev_cents",
        (
            F.col("base_seats")
            + F.when(
                F.col("rem_rank") <= F.lit(_SEATS) - F.col("base_total"), 1
            ).otherwise(0)
        ).alias("seats"),
    )


# ---------------------------------------------------------------------------
# agg_mix_shift_decompose — AOV change bridged into mix vs rate effects
# ---------------------------------------------------------------------------

_MIX_ORACLE = """
WITH per AS (
    SELECT c.c_mktsegment,
           SUM(CASE WHEN year(o.o_orderdate) = 1996 THEN 1 ELSE 0 END) AS n0,
           SUM(CASE WHEN year(o.o_orderdate) = 2000 THEN 1 ELSE 0 END) AS n1,
           SUM(CASE WHEN year(o.o_orderdate) = 1996
                    THEN CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
                    ELSE 0 END) AS rev0,
           SUM(CASE WHEN year(o.o_orderdate) = 2000
                    THEN CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
                    ELSE 0 END) AS rev1
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE year(o.o_orderdate) IN (1996, 2000)
    GROUP BY 1
),
tot AS (SELECT SUM(n0) AS t0, SUM(n1) AS t1 FROM per)
SELECT p.c_mktsegment,
       floor(CAST(p.n0 AS DOUBLE) / t.t0 * 1e6 + 0.5) / 1e6 AS share0,
       floor(CAST(p.n1 AS DOUBLE) / t.t1 * 1e6 + 0.5) / 1e6 AS share1,
       floor(CAST(p.rev0 AS DOUBLE) / p.n0 / 100 * 1e4 + 0.5) / 1e4 AS aov0,
       floor(CAST(p.rev1 AS DOUBLE) / p.n1 / 100 * 1e4 + 0.5) / 1e4 AS aov1,
       floor((CAST(p.n1 AS DOUBLE) / t.t1 - CAST(p.n0 AS DOUBLE) / t.t0)
             * (CAST(p.rev0 AS DOUBLE) / p.n0 / 100) * 1e4 + 0.5) / 1e4
           AS mix_effect,
       floor(CAST(p.n1 AS DOUBLE) / t.t1
             * (CAST(p.rev1 AS DOUBLE) / p.n1
                - CAST(p.rev0 AS DOUBLE) / p.n0) / 100 * 1e4 + 0.5) / 1e4
           AS rate_effect
FROM per p, tot t
"""


@query("agg_mix_shift_decompose", _MIX_ORACLE)
def agg_mix_shift_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume-mix bridge: decompose the change in overall average
    order value between 1996 and 2000 into per-segment MIX effects
    (segment share of orders moved) and RATE effects (within-segment
    AOV moved), the Laspeyres/Oaxaca identity
    ΔAOV = Σ_s [(share1-share0)·rate0 + share1·(rate1-rate0)] — the
    standard "why did the metric move" readout over a training-data or
    revenue dashboard. One conditional hash aggregate over the
    two-year scan (the year predicate pushes into the parquet reader —
    no per-period self-join of the fact); period totals are a second
    aggregate over the ~5-row rollup, broadcast back as a single row.
    Revenue accumulates in exact bigint cents; only the final ratios
    are double, rounded before hashing.
    """
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    yr = F.year("o_orderdate")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    per = (
        orders.where(yr.isin(1996, 2000))
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.sum(F.when(yr == 1996, 1).otherwise(0)).alias("n0"),
            F.sum(F.when(yr == 2000, 1).otherwise(0)).alias("n1"),
            F.sum(F.when(yr == 1996, cents).otherwise(0)).alias("rev0"),
            F.sum(F.when(yr == 2000, cents).otherwise(0)).alias("rev1"),
        )
    )
    tot = per.agg(F.sum("n0").alias("t0"), F.sum("n1").alias("t1"))
    share0 = F.col("n0").cast("double") / F.col("t0")
    share1 = F.col("n1").cast("double") / F.col("t1")
    rate0 = F.col("rev0").cast("double") / F.col("n0") / 100
    rate1 = F.col("rev1").cast("double") / F.col("n1") / 100

    def r4(c):
        return F.floor(c * 1e4 + F.lit(0.5)) / 1e4

    return per.join(F.broadcast(tot)).select(
        "c_mktsegment",
        r6(share0).alias("share0"),
        r6(share1).alias("share1"),
        r4(rate0).alias("aov0"),
        r4(rate1).alias("aov1"),
        r4((share1 - share0) * rate0).alias("mix_effect"),
        r4(share1 * (rate1 - rate0)).alias("rate_effect"),
    )
