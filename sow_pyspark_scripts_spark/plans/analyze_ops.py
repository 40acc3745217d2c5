"""Optimizer-statistics / reporting tier: the ANALYZE-style table
statistics an engine keeps about its own data (equi-depth histograms),
the band-lookup non-equi join every tiering/pricing rule needs, fiscal
running totals, and the decision-tree split search that turns the SQL
engine into a feature-engineering tool.

Scale notes:
- the equi-depth histogram computes its 9 boundaries in ONE aggregate
  pass (approx_percentile sketches at the functions/sketch.py accuracy
  pin — genuinely fixed-bound mergeable state, == quantile_disc at
  fixture scale; the old exact percentile buffered a value->count map
  ~ O(rows) for a continuous column, VERDICT r6 #4) and broadcasts the
  9-value array back; bucket assignment is a
  map-side array filter, so the histogram costs scan + one rollup of 10
  rows. This replaces sort-based binning (a global sort) entirely;
- the band lookup is the one join family where a broadcast NESTED LOOP
  is the right plan: the probe predicate is a pure range, the build
  side is a constant tier table, and every probe row scans 4 rows of
  build state. Never express this as a cross join + filter on two big
  sides;
- YTD totals window over the month-grain rollup (calendar-bounded),
  partitioned by year so the frame never crosses a year boundary and
  cents stay integer-exact;
- the Gini split search fans each fact row out to the 9 candidate
  splits map-side (bounded constant), aggregates integer class counts
  per (candidate, side), and the impurity argmin runs over 9 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.det import quant, r6
from ..functions.sketch import approx_pctl, approx_pctls
from ..registry import query
from ..sources import read_table

_DECILES = [k / 10.0 for k in range(1, 10)]


# ---------------------------------------------------------------------------
# dq_equidepth_histogram — ANALYZE-style 10-bucket equi-depth histogram
# ---------------------------------------------------------------------------

def _hist_sql() -> str:
    bounds = ",\n           ".join(
        f"floor(quantile_disc(o_totalprice, {p}) * 1e6 + 0.5) / 1e6 AS b{k}"
        for k, p in enumerate(_DECILES, start=1)
    )
    blist = ", ".join(f"b{k}" for k in range(1, 10))
    return f"""
WITH b AS (
    SELECT {bounds}
    FROM orders
),
binned AS (
    SELECT 1 + len(list_filter([{blist}], v -> o_totalprice > v)) AS bucket,
           o_totalprice AS p
    FROM orders, b
)
SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_rows,
       floor(min(p) * 100 + 0.5) / 100.0 AS min_v,
       floor(max(p) * 100 + 0.5) / 100.0 AS max_v
FROM binned GROUP BY bucket
"""


@query("dq_equidepth_histogram", _hist_sql())
def dq_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-frequency) 10-bucket histogram of order value —
    the ANALYZE statistic a cost-based optimizer keeps per column, and
    the binning a feature pipeline uses where equal-width bins
    (`text_length_histogram`) would collapse under skew.

    The 9 discrete decile boundaries come from ONE aggregate pass
    (sketch state is fixed-bound and mergeable — no global sort, no
    ntile over the full table), get rounded to 1e-6 so both engines
    compare against identical constants, and broadcast back as a 9-value
    array; bucket assignment is a map-side higher-order filter and the
    final rollup has exactly 10 rows at any data scale."""
    orders = read_table(spark, sf_dir, "orders")
    # ONE sketch queried at all 9 ranks (r9, functions/sketch.approx_pctls
    # — nine independent summaries buffered the column nine times per task)
    b = orders.agg(
        F.transform(approx_pctls("o_totalprice", _DECILES), r6).alias("bl")
    )
    binned = orders.crossJoin(F.broadcast(b)).select(
        (
            1 + F.size(F.filter(F.col("bl"), lambda v: F.col("o_totalprice") > v))
        ).cast("long").alias("bucket"),
        F.col("o_totalprice").alias("p"),
    )
    r2 = lambda c: F.floor(c * 100 + F.lit(0.5)) / F.lit(100.0)  # noqa: E731
    return binned.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        r2(F.min("p")).alias("min_v"),
        r2(F.max("p")).alias("max_v"),
    )


# ---------------------------------------------------------------------------
# join_band_lookup — broadcast nested-loop range lookup
# ---------------------------------------------------------------------------

_TIERS = [
    ("bronze", 0.0, 50000.0),
    ("silver", 50000.0, 150000.0),
    ("gold", 150000.0, 300000.0),
    ("platinum", 300000.0, 1e18),
]


def _band_sql() -> str:
    rows = ", ".join(f"('{t}', {lo}, {hi})" for t, lo, hi in _TIERS)
    return f"""
WITH tiers(tier, lo, hi) AS (VALUES {rows})
SELECT tier, count(*) AS n_orders,
       floor(CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE))
           / 100.0 AS revenue
FROM orders JOIN tiers ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY tier
"""


@query("join_band_lookup", _band_sql())
def join_band_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band lookup: assign every order to a value tier via a pure-range
    join against a constant 4-row tier table — the pricing/tiering/SLA
    bucket join that has NO equi-key. The only sane physical plan is a
    broadcast nested loop (each probe row scans 4 build rows); the
    degenerate alternatives — cross join then filter, or a sort-merge
    band join — move the fact table for a 4-row lookup.

    The tier table is a createDataFrame literal (`exec_create_df`) and
    broadcasts explicitly; revenue sums exact integer cents."""
    orders = read_table(spark, sf_dir, "orders")
    tiers = spark.createDataFrame(_TIERS, "tier string, lo double, hi double")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    return (
        orders.join(
            F.broadcast(tiers),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.floor(F.sum(cents).cast("double")) / F.lit(100.0)).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# win_ytd_running_total — fiscal running totals with year reset
# ---------------------------------------------------------------------------

_YTD_ORACLE = """
WITH m AS (
    SELECT year(o_orderdate) AS yr,
           strftime(CAST(date_trunc('month', o_orderdate) AS DATE), '%Y-%m') AS mo,
           sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
    FROM orders GROUP BY 1, 2
)
SELECT mo AS fiscal_month,
       floor(CAST(cents AS DOUBLE)) / 100.0 AS monthly_revenue,
       floor(CAST(sum(cents) OVER (PARTITION BY yr ORDER BY mo
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS DOUBLE)) / 100.0
           AS ytd_revenue
FROM m
"""


@query("win_ytd_running_total", _YTD_ORACLE)
def win_ytd_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-to-date running revenue by month with a reset at each fiscal
    year boundary — the finance-report staple, and the frame-reset
    pattern (`PARTITION BY year`) that a naive global cumulative window
    gets wrong.

    The fact collapses to month grain first (calendar-bounded rollup),
    so the cumulative window runs over at most 12 rows per year
    partition; cents stay integer through the window and convert to
    dollars only in the projection."""
    orders = read_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.year("o_orderdate").alias("yr"),
        F.date_format(F.trunc("o_orderdate", "month"), "yyyy-MM").alias("mo"),
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("cents")
    )
    w = Window.partitionBy("yr").orderBy("mo").rowsBetween(
        Window.unboundedPreceding, 0
    )
    dollars = lambda c: F.floor(c.cast("double")) / F.lit(100.0)  # noqa: E731
    return m.select(
        F.col("mo").alias("fiscal_month"),
        dollars(F.col("cents")).alias("monthly_revenue"),
        dollars(F.sum("cents").over(w)).alias("ytd_revenue"),
    )


# ---------------------------------------------------------------------------
# ml_best_split_gini — decision-tree split search as one aggregate
# ---------------------------------------------------------------------------

def _gini_sql() -> str:
    bounds = ",\n           ".join(
        f"floor(quantile_disc(l_extendedprice, {p}) * 1e6 + 0.5) / 1e6 AS b{k}"
        for k, p in enumerate(_DECILES, start=1)
    )
    blist = ", ".join(f"b{k}" for k in range(1, 10))
    return f"""
WITH b AS (SELECT {bounds} FROM lineitem),
cand AS (SELECT unnest([{blist}]) AS split FROM b),
assigned AS (
    SELECT split, (l_extendedprice <= split) AS left_side, l_returnflag AS cls
    FROM lineitem, cand
),
cc AS (
    SELECT split, left_side, cls, count(*) AS cnt
    FROM assigned GROUP BY 1, 2, 3
),
sides AS (
    SELECT split, left_side, sum(cnt) AS ns, sum(cnt * cnt) AS ss
    FROM cc GROUP BY 1, 2
),
g AS (
    SELECT split,
           sum(ns - CAST(ss AS DOUBLE) / ns)
               / sum(ns) AS gini,
           sum(CASE WHEN left_side THEN ns ELSE 0 END) AS n_left,
           sum(CASE WHEN NOT left_side THEN ns ELSE 0 END) AS n_right
    FROM sides GROUP BY split
)
SELECT split AS best_split,
       floor(gini * 1e6 + 0.5) / 1e6 AS gini,
       n_left, n_right
FROM g ORDER BY gini ASC, split ASC LIMIT 1
"""


@query("ml_best_split_gini", _gini_sql())
def ml_best_split_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-tree split search: among the 9 price deciles, find the
    split of l_extendedprice that minimizes weighted Gini impurity of
    the return-flag classes — the inner loop of tree training (and of
    feature-binning quality checks), run as ONE scan + one bounded
    aggregate instead of 9 passes.

    Candidates come from the same one-pass percentile state as
    `dq_equidepth_histogram` and broadcast back; each fact row fans out
    to 9 (candidate, side, class) keys map-side; class counts are exact
    integers, so the impurity Σ_side (n_s - Σ_c cnt²/n_s) / n is two
    exact-input double divisions per candidate and the argmin over 9
    rows is bit-stable. The float sum over sides is a two-term add —
    commutative bitwise, partition-order-proof."""
    li = read_table(spark, sf_dir, "lineitem")
    # ONE sketch queried at all 9 ranks (r9): the nine separate summaries
    # were the query's dominant stage (3.7-4.1s -> 0.5-0.6s measured)
    b = li.agg(
        F.transform(approx_pctls("l_extendedprice", _DECILES), r6).alias("bl")
    )
    cand = b.select(F.explode("bl").alias("split"))
    assigned = li.crossJoin(F.broadcast(cand)).select(
        "split",
        (F.col("l_extendedprice") <= F.col("split")).alias("left_side"),
        F.col("l_returnflag").alias("cls"),
    )
    cc = assigned.groupBy("split", "left_side", "cls").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    sides = cc.groupBy("split", "left_side").agg(
        F.sum("cnt").alias("ns"), F.sum(F.col("cnt") * F.col("cnt")).alias("ss")
    )
    g = sides.groupBy("split").agg(
        (
            F.sum(F.col("ns") - F.col("ss").cast("double") / F.col("ns"))
            / F.sum("ns")
        ).alias("gini"),
        F.sum(F.when(F.col("left_side"), F.col("ns")).otherwise(0)).alias("n_left"),
        F.sum(F.when(~F.col("left_side"), F.col("ns")).otherwise(0)).alias("n_right"),
    )
    return (
        g.orderBy(F.asc("gini"), F.asc("split"))
        .limit(1)
        .select(
            F.col("split").alias("best_split"),
            r6(F.col("gini")).alias("gini"),
            "n_left",
            "n_right",
        )
    )


# ---------------------------------------------------------------------------
# graph_modularity — partition quality of the nation communities
# ---------------------------------------------------------------------------

_MODULARITY_ORACLE = """
WITH e AS (
    SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
),
lab AS (
    SELECT e.sk, e.ck, s_nationkey AS sn, c_nationkey AS cn
    FROM e
    JOIN supplier ON s_suppkey = e.sk
    JOIN customer ON c_custkey = e.ck
),
m AS (SELECT count(*) AS m FROM lab),
comm AS (
    SELECT nat, sum(e_in) AS e_in, sum(deg) AS deg FROM (
        SELECT sn AS nat, CASE WHEN sn = cn THEN 1 ELSE 0 END AS e_in, 1 AS deg
        FROM lab
        UNION ALL
        SELECT cn AS nat, 0 AS e_in, 1 AS deg FROM lab
    ) GROUP BY nat
),
terms AS (
    SELECT CAST(floor((CAST(e_in AS DOUBLE) / m.m
                       - (CAST(deg AS DOUBLE) / (2 * m.m))
                         * (CAST(deg AS DOUBLE) / (2 * m.m))) * 1e12 + 0.5)
                AS BIGINT) AS t_u
    FROM comm, m
)
SELECT (SELECT count(*) FROM comm) AS n_communities,
       (SELECT m FROM m) AS m_edges,
       floor(CAST(sum(t_u) AS DOUBLE) / 1e12 * 1e6 + 0.5) / 1e6 AS modularity
FROM terms
"""


@query("graph_modularity", _MODULARITY_ORACLE)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the nation partition over the
    supplier-customer trade graph: Q = Σ_c [e_c/m − (d_c/2m)²], where
    within-community edges are same-nation trades — the quality score
    you compute to decide whether a community structure (here the
    geographic one) is real before acting on it, and the objective
    Louvain-style algorithms climb.

    One distinct-edge build (the `graph_pagerank_iter` edge shape), two
    broadcast dim joins for the labels, and a per-community integer
    rollup (e_in, degree) over an exploded two-ends relation. The
    per-community Q terms quantize to picounits before the cross-
    community sum, so Q is bit-stable under any partitioning; m rides
    along as a broadcast scalar."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    supp = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    e = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("l_suppkey").alias("sk"), F.col("o_custkey").alias("ck"))
        .distinct()
    )
    lab = (
        e.join(F.broadcast(supp), F.col("s_suppkey") == F.col("sk"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("ck"))
        .select(F.col("s_nationkey").alias("sn"), F.col("c_nationkey").alias("cn"))
    )
    m = lab.agg(F.count(F.lit(1)).alias("m"))
    ends = lab.select(
        F.col("sn").alias("nat"),
        F.when(F.col("sn") == F.col("cn"), 1).otherwise(0).alias("e_in"),
    ).unionByName(lab.select(F.col("cn").alias("nat"), F.lit(0).alias("e_in")))
    comm = ends.groupBy("nat").agg(
        F.sum("e_in").alias("e_in"), F.count(F.lit(1)).alias("deg")
    )
    half = F.col("deg").cast("double") / (2 * F.col("m"))
    t_u = F.floor(
        (F.col("e_in").cast("double") / F.col("m") - half * half) * F.lit(1e12)
        + F.lit(0.5)
    ).cast("long")
    terms = comm.crossJoin(F.broadcast(m)).select(t_u.alias("t_u"), "m")
    return terms.agg(
        F.count(F.lit(1)).alias("n_communities"),
        F.max("m").alias("m_edges"),
        r6(F.sum("t_u").cast("double") / F.lit(1e12)).alias("modularity"),
    )


# ---------------------------------------------------------------------------
# dq_rule_violations — declarative data-quality rule engine, one scan
# ---------------------------------------------------------------------------

_RULES_ORACLE = """
WITH j AS (
    SELECT l_shipdate, o_orderdate, l_discount, l_quantity, l_tax
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
),
agg AS (
    SELECT count(*) AS n,
           sum(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END) AS v_ship,
           sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
               AS v_disc,
           sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS v_qty,
           sum(CASE WHEN l_tax < 0 OR l_tax >= 0.5 THEN 1 ELSE 0 END) AS v_tax
    FROM j
)
SELECT r.rule, agg.n AS n_checked, r.v AS n_violations,
       floor(CAST(r.v AS DOUBLE) / agg.n * 1e6 + 0.5) / 1e6 AS violation_rate
FROM agg, LATERAL (
    SELECT 'ship_after_order' AS rule, v_ship AS v
    UNION ALL SELECT 'discount_in_range', v_disc
    UNION ALL SELECT 'quantity_positive', v_qty
    UNION ALL SELECT 'tax_in_range', v_tax
) r
"""


@query("dq_rule_violations", _RULES_ORACLE)
def dq_rule_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative DQ rule engine: four cross-field validation rules
    (ship date not before order date, discount ∈ [0,1], positive
    quantity, tax ∈ [0,0.5)) evaluated in ONE scan as conditional sums,
    then unpivoted into the per-rule report — the Great-Expectations-
    style ingest gate, run the Spark way: N rules cost one pass, not N.

    The orders join is co-partitioned on orderkey; the rule counters
    are a single 1-row aggregate; stack() unpivots it to 4 report rows
    driver-free."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    agg = j.agg(
        F.count(F.lit(1)).alias("n"),
        cnt(F.col("l_shipdate") < F.col("o_orderdate")).alias("v_ship"),
        cnt((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).alias("v_disc"),
        cnt(F.col("l_quantity") <= 0).alias("v_qty"),
        cnt((F.col("l_tax") < 0) | (F.col("l_tax") >= 0.5)).alias("v_tax"),
    )
    unpivoted = agg.select(
        "n",
        F.expr(
            "stack(4, 'ship_after_order', v_ship, 'discount_in_range', v_disc, "
            "'quantity_positive', v_qty, 'tax_in_range', v_tax) AS (rule, v)"
        ),
    )
    return unpivoted.select(
        "rule",
        F.col("n").alias("n_checked"),
        F.col("v").alias("n_violations"),
        r6(F.col("v").cast("double") / F.col("n")).alias("violation_rate"),
    )


# ---------------------------------------------------------------------------
# stats_mde_power — minimum detectable effect from observed moments
# ---------------------------------------------------------------------------

# z constants embedded as literals (cross-engine erf/quantile functions
# are not bit-identical): z_{0.975} and z_{0.80}.
_Z_ALPHA = 1.959963984540054
_Z_BETA = 0.8416212335729143

_MDE_ORACLE = f"""
WITH v AS (
    SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
    FROM events
),
m AS (
    SELECT event_type, count(*) AS n, sum(c) AS s, sum(c * c) AS ss
    FROM v GROUP BY event_type
)
SELECT event_type, n,
       floor((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)
             / 10000.0 * 1e6 + 0.5) / 1e6 AS var_dollars,
       floor(({_Z_ALPHA} + {_Z_BETA})
             * sqrt(2 * ((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                         / (n - 1) / 10000.0) / n) * 1e6 + 0.5) / 1e6
           AS mde_dollars
FROM m WHERE n > 1
"""


@query("stats_mde_power", _MDE_ORACLE)
def stats_mde_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power analysis from observed moments: per event type, the minimum
    detectable effect (alpha=.05 two-sided, power=.80, equal-split
    two-sample) given the realized variance and sample size — the
    pre-experiment readout that says whether the A/B test you're about
    to run can possibly detect the lift you care about.

    One hash aggregate of exact integer moments (cents, cents²); the
    closed-form MDE is a fixed sequence of double ops over those exact
    sums with the z quantiles embedded as identical decimal literals in
    both engines (no erf/quantile library call crosses the engines)."""
    ev = read_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c")
    )
    m = v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    var_d = (
        (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n"))
        / (F.col("n") - 1)
        / F.lit(10000.0)
    )
    return m.where(F.col("n") > 1).select(
        "event_type",
        "n",
        r6(var_d).alias("var_dollars"),
        r6(
            F.lit(_Z_ALPHA + _Z_BETA) * F.sqrt(2 * var_d / F.col("n"))
        ).alias("mde_dollars"),
    )


# ---------------------------------------------------------------------------
# agg_share_of_parent — hierarchical contribution report
# ---------------------------------------------------------------------------

_SHARE_ORACLE = """
WITH rev AS (
    SELECT r_name, n_name,
           sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    JOIN region ON r_regionkey = n_regionkey
    GROUP BY r_name, n_name
)
SELECT r_name, n_name,
       floor(CAST(cents AS DOUBLE)) / 100.0 AS revenue,
       floor(CAST(cents AS DOUBLE)
             / sum(cents) OVER (PARTITION BY r_name) * 1e6 + 0.5) / 1e6
           AS share_in_region,
       floor(CAST(sum(cents) OVER (PARTITION BY r_name) AS DOUBLE)
             / sum(cents) OVER () * 1e6 + 0.5) / 1e6
           AS region_share_of_total
FROM rev
"""


@query("agg_share_of_parent", _SHARE_ORACLE)
def agg_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent across the geography hierarchy: each nation's
    revenue as a share of its region, and each region's share of the
    world — the drill-down contribution report every BI layer renders,
    computed with windows over the ROLLUP-grain relation instead of
    three separate aggregations.

    The fact aggregates once to (region, nation) grain (25 rows at any
    scale); both share windows operate on that bounded rollup, so the
    'over ()' grand-total window — a single-partition exchange — sits
    above 25 rows, never the fact. Dim joins broadcast; cents exact."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    reg = read_table(spark, sf_dir, "region")
    rev = (
        orders.join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nat), F.col("n_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(reg), F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("cents")
        )
    )
    wr = Window.partitionBy("r_name")
    wall = Window.partitionBy()
    return rev.select(
        "r_name",
        "n_name",
        (F.floor(F.col("cents").cast("double")) / F.lit(100.0)).alias("revenue"),
        r6(F.col("cents").cast("double") / F.sum("cents").over(wr)).alias(
            "share_in_region"
        ),
        r6(
            F.sum("cents").over(wr).cast("double") / F.sum("cents").over(wall)
        ).alias("region_share_of_total"),
    )


# ---------------------------------------------------------------------------
# events_classical_decompose — trend + seasonal + remainder
# ---------------------------------------------------------------------------

_DECOMP_ORACLE = """
WITH daily AS (
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           dayofweek(CAST(ts AS DATE)) AS dow,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
    FROM events GROUP BY 1, 2
),
tr AS (
    SELECT day, dow, cents,
           CASE WHEN count(*) OVER w = 7
                THEN CAST(sum(cents) OVER w AS DOUBLE) / 7
                END AS trend
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
det AS (
    SELECT day, dow, cents, trend,
           CASE WHEN trend IS NOT NULL
                THEN CAST(floor((cents - trend) * 1e6 + 0.5) AS BIGINT)
                END AS det_u
    FROM tr
),
seas AS (
    SELECT dow, CAST(floor(CAST(sum(det_u) AS DOUBLE) / count(*) + 0.5) AS BIGINT)
               AS s_u
    FROM det WHERE det_u IS NOT NULL GROUP BY dow
)
SELECT day,
       floor(CAST(cents AS DOUBLE)) / 100.0 AS observed,
       floor(trend / 100.0 * 1e6 + 0.5) / 1e6 AS trend,
       floor(CAST(s_u AS DOUBLE) / 1e6 / 100.0 * 1e6 + 0.5) / 1e6 AS seasonal,
       CASE WHEN det_u IS NOT NULL
            THEN floor(CAST(det_u - s_u AS DOUBLE) / 1e6 / 100.0 * 1e6 + 0.5) / 1e6
            END AS remainder
FROM det JOIN seas USING (dow)
"""


@query("events_classical_decompose", _DECOMP_ORACLE)
def events_classical_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical (moving-average) time-series decomposition of daily
    revenue: trend = centered 7-day MA, seasonal = per-weekday mean of
    the detrended series, remainder = what's left — the decomposition
    every anomaly detector and forecaster starts from, feeding
    `events_forecast_seasonal_naive` and `events_anomaly_zscore` with a
    principled baseline.

    All windows run over the calendar-bounded day rollup. Exactness
    chain: daily cents are integers; the 7-day trend is an exact 7-int
    sum divided once; detrended values quantize to integer micro-units
    BEFORE the per-weekday mean (sum order immune), and the seasonal
    means re-quantize before subtraction — every reported component is
    one rounding away from integer arithmetic."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
        F.dayofweek(F.col("ts").cast("date")).alias("dow"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("cents")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day",
        "dow",
        "cents",
        F.when(
            F.count(F.lit(1)).over(w) == 7,
            F.sum("cents").over(w).cast("double") / 7,
        ).alias("trend"),
    )
    det = tr.select(
        "day",
        "dow",
        "cents",
        "trend",
        F.when(
            F.col("trend").isNotNull(),
            quant(F.col("cents") - F.col("trend")).cast("long"),
        ).alias("det_u"),
    )
    seas = (
        det.where(F.col("det_u").isNotNull())
        .groupBy("dow")
        .agg(
            F.floor(
                F.sum("det_u").cast("double") / F.count(F.lit(1)) + F.lit(0.5)
            )
            .cast("long")
            .alias("s_u")
        )
    )
    return det.join(F.broadcast(seas), "dow").select(
        "day",
        (F.floor(F.col("cents").cast("double")) / F.lit(100.0)).alias("observed"),
        r6(F.col("trend") / F.lit(100.0)).alias("trend"),
        r6(F.col("s_u").cast("double") / F.lit(1e6) / F.lit(100.0)).alias("seasonal"),
        F.when(
            F.col("det_u").isNotNull(),
            r6((F.col("det_u") - F.col("s_u")).cast("double") / F.lit(1e6) / F.lit(100.0)),
        ).alias("remainder"),
    )


# ---------------------------------------------------------------------------
# ml_logreg_newton — 1-feature logistic regression, 3 Newton steps
# ---------------------------------------------------------------------------

_LOGREG_ITERS = 3


def _logreg_sql() -> str:
    head = """
WITH base AS (
    SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) / 10000.0 AS x,
           CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
    FROM events WHERE event_type IN ('purchase', 'click')
),
w0 AS (SELECT 0.0 AS w)"""
    step = """,
g{k} AS (
    SELECT sum(CAST(floor((y - floor(1.0 / (1.0 + exp(-w * x)) * 1e6 + 0.5) / 1e6)
                          * x * 1e9 + 0.5) AS BIGINT)) AS num_u,
           sum(CAST(floor((floor(1.0 / (1.0 + exp(-w * x)) * 1e6 + 0.5) / 1e6)
                          * (1.0 - floor(1.0 / (1.0 + exp(-w * x)) * 1e6 + 0.5) / 1e6)
                          * x * x * 1e9 + 0.5) AS BIGINT)) AS den_u
    FROM base, w{p}
),
w{k} AS (
    SELECT floor((w + CAST(num_u AS DOUBLE) / den_u) * 1e9 + 0.5) / 1e9 AS w
    FROM w{p}, g{k}
)"""
    sql = head
    for k in range(1, _LOGREG_ITERS + 1):
        sql += step.format(k=k, p=k - 1)
    last = f"w{_LOGREG_ITERS}"
    return (
        sql
        + f""",
loss AS (
    SELECT count(*) AS n,
           sum(CAST(floor(-(y * ln(greatest(least(
                   floor(1.0 / (1.0 + exp(-w * x)) * 1e6 + 0.5) / 1e6,
                   0.999999), 0.000001))
               + (1.0 - y) * ln(greatest(least(
                   1.0 - floor(1.0 / (1.0 + exp(-w * x)) * 1e6 + 0.5) / 1e6,
                   0.999999), 0.000001))) * 1e6 + 0.5) AS BIGINT)) AS l_u
    FROM base, {last}
)
SELECT floor(w * 1e6 + 0.5) / 1e6 AS weight, n,
       floor(CAST(l_u AS DOUBLE) / n / 1e6 * 1e6 + 0.5) / 1e6 AS avg_log_loss
FROM {last}, loss
"""
    )


@query("ml_logreg_newton", _logreg_sql())
def ml_logreg_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-feature logistic regression (purchase-vs-click on event
    value) trained with 3 Newton-Raphson steps — iterative ML as
    declarative aggregates, like `ml_kmeans_lloyd` and
    `embedding_pca_power_iter`: each step is ONE scan computing the
    gradient and Hessian as quantized-integer sums, and the weight
    rides between steps as a broadcast 1-row relation (never a driver
    collect).

    Determinism chain: probabilities round to 1e-6 immediately after
    the sigmoid (so a last-ulp exp() divergence between engines must
    land exactly on a rounding boundary to matter), per-row gradient
    and Hessian contributions quantize to integer nano-units before
    summation (partition-order immune), and the weight re-quantizes to
    1e-9 each step — both engines walk the same trajectory. The final
    readout is the weight and the clamped average log-loss."""
    ev = read_table(spark, sf_dir, "events")
    base = ev.where(F.col("event_type").isin("purchase", "click")).select(
        (F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long") / F.lit(10000.0)).alias("x"),
        F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0).alias("y"),
    )
    p_of = lambda: r6(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("w") * F.col("x"))))  # noqa: E731
    w = ev.sparkSession.range(1).select(F.lit(0.0).alias("w"))
    for _ in range(_LOGREG_ITERS):
        p = p_of()
        g = base.crossJoin(F.broadcast(w)).agg(
            F.sum(
                F.floor((F.col("y") - p) * F.col("x") * F.lit(1e9) + F.lit(0.5)).cast("long")
            ).alias("num_u"),
            F.sum(
                F.floor(
                    p * (F.lit(1.0) - p) * F.col("x") * F.col("x") * F.lit(1e9)
                    + F.lit(0.5)
                ).cast("long")
            ).alias("den_u"),
        )
        w = w.crossJoin(F.broadcast(g)).select(
            (
                F.floor(
                    (F.col("w") + F.col("num_u").cast("double") / F.col("den_u"))
                    * F.lit(1e9)
                    + F.lit(0.5)
                )
                / F.lit(1e9)
            ).alias("w")
        )
    p = p_of()
    clamp = lambda c: F.greatest(F.least(c, F.lit(0.999999)), F.lit(0.000001))  # noqa: E731
    loss = base.crossJoin(F.broadcast(w)).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            quant(
                -(
                    F.col("y") * F.log(clamp(p))
                    + (F.lit(1.0) - F.col("y")) * F.log(clamp(F.lit(1.0) - p))
                )
            ).cast("long")
        ).alias("l_u"),
    )
    return w.crossJoin(F.broadcast(loss)).select(
        r6(F.col("w")).alias("weight"),
        "n",
        r6(F.col("l_u").cast("double") / F.col("n") / F.lit(1e6)).alias("avg_log_loss"),
    )


# ---------------------------------------------------------------------------
# stats_anova_oneway — k-group mean comparison from exact moments
# ---------------------------------------------------------------------------

_ANOVA_ORACLE = """
WITH v AS (
    SELECT event_type AS grp, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
    FROM events
),
g AS (
    SELECT grp, count(*) AS n, sum(c) AS s, sum(c * c) AS ss FROM v GROUP BY grp
),
tot AS (
    SELECT count(*) AS k, sum(n) AS n_tot, sum(s) AS s_tot,
           sum(CAST(s AS DOUBLE) * s / n) AS sum_gm
    FROM g
),
parts AS (
    SELECT k, n_tot,
           sum_gm - CAST(s_tot AS DOUBLE) * s_tot / n_tot AS ssb,
           (SELECT sum(CAST(ss AS DOUBLE)) FROM g) - sum_gm AS ssw
    FROM tot
)
SELECT k, n_tot,
       floor(ssb / 10000.0 * 1e4 + 0.5) / 1e4 AS ss_between_dollars,
       floor(ssw / 10000.0 * 1e4 + 0.5) / 1e4 AS ss_within_dollars,
       floor((ssb / (k - 1)) / (ssw / (n_tot - k)) * 1e6 + 0.5) / 1e6 AS f_stat
FROM parts
"""


@query("stats_anova_oneway", _ANOVA_ORACLE)
def stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across all event types: F = (SSB/(k-1)) /
    (SSW/(n-k)) from ONE pass of exact integer moments (cents, cents²)
    — the k-group generalization of `stats_welch_ttest` that a metrics
    platform runs before drilling into pairwise contrasts.

    The per-group moment rollup is group-count-bounded; SSB and SSW
    are closed forms over exact bigint sums (each a fixed sequence of
    double ops), so the F statistic is bit-stable at any partitioning.
    """
    ev = read_table(spark, sf_dir, "events")
    v = ev.select(
        F.col("event_type").alias("grp"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )
    g = v.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    tot = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n_tot"),
        F.sum("s").alias("s_tot"),
        F.sum(F.col("s").cast("double") * F.col("s") / F.col("n")).alias("sum_gm"),
        F.sum(F.col("ss").cast("double")).alias("ss_all"),
    )
    ssb = F.col("sum_gm") - F.col("s_tot").cast("double") * F.col("s_tot") / F.col("n_tot")
    ssw = F.col("ss_all") - F.col("sum_gm")
    r4 = lambda c: F.floor(c * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)  # noqa: E731
    return tot.select(
        "k",
        "n_tot",
        r4(ssb / F.lit(10000.0)).alias("ss_between_dollars"),
        r4(ssw / F.lit(10000.0)).alias("ss_within_dollars"),
        r6((ssb / (F.col("k") - 1)) / (ssw / (F.col("n_tot") - F.col("k")))).alias(
            "f_stat"
        ),
    )


# ---------------------------------------------------------------------------
# expr_haversine_pairs — great-circle distances between synthetic capitals
# ---------------------------------------------------------------------------

_HAVERSINE_ORACLE = """
WITH caps AS (
    SELECT n_nationkey AS k, n_name,
           CAST((n_nationkey * 7) % 140 - 70 AS DOUBLE) AS lat,
           CAST((n_nationkey * 31) % 360 - 180 AS DOUBLE) AS lon
    FROM nation
),
pairs AS (
    SELECT a.n_name AS nation_a, b.n_name AS nation_b,
           radians(a.lat) AS la, radians(b.lat) AS lb,
           radians(b.lat - a.lat) AS dla, radians(b.lon - a.lon) AS dlo
    FROM caps a JOIN caps b ON a.k < b.k
)
SELECT nation_a, nation_b,
       floor(2 * 6371.0 * asin(sqrt(
           sin(dla / 2) * sin(dla / 2)
           + cos(la) * cos(lb) * sin(dlo / 2) * sin(dlo / 2))) * 1e3 + 0.5) / 1e3
           AS distance_km
FROM pairs
"""


@query("expr_haversine_pairs", _HAVERSINE_ORACLE)
def expr_haversine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle (haversine) distances between all nation pairs,
    with deterministic synthetic capitals minted from nation keys —
    the geo-distance expression surface (radians/sin/cos/asin/sqrt)
    that location joins and geo-dedup need, exercised as a bounded
    25x25 pair relation (a broadcast self-join of a dim, never a
    fact-scale cross product).

    The trig chain runs once per pair with a single terminal rounding
    (1e-3 km), far above the last-ulp noise floor of cross-engine libm
    differences — the `corpus_kl_divergence_drift` discipline for
    transcendental functions."""
    nat = read_table(spark, sf_dir, "nation")
    caps = nat.select(
        F.col("n_nationkey").alias("k"),
        "n_name",
        ((F.col("n_nationkey") * 7) % 140 - 70).cast("double").alias("lat"),
        ((F.col("n_nationkey") * 31) % 360 - 180).cast("double").alias("lon"),
    )
    a = caps.select(
        F.col("k").alias("ka"), F.col("n_name").alias("nation_a"),
        F.col("lat").alias("lat_a"), F.col("lon").alias("lon_a"),
    )
    b = caps.select(
        F.col("k").alias("kb"), F.col("n_name").alias("nation_b"),
        F.col("lat").alias("lat_b"), F.col("lon").alias("lon_b"),
    )
    pairs = a.join(F.broadcast(b), F.col("ka") < F.col("kb"))
    la = F.radians(F.col("lat_a"))
    lb = F.radians(F.col("lat_b"))
    dla = F.radians(F.col("lat_b") - F.col("lat_a"))
    dlo = F.radians(F.col("lon_b") - F.col("lon_a"))
    d = (
        2
        * 6371.0
        * F.asin(
            F.sqrt(
                F.sin(dla / 2) * F.sin(dla / 2)
                + F.cos(la) * F.cos(lb) * F.sin(dlo / 2) * F.sin(dlo / 2)
            )
        )
    )
    return pairs.select(
        "nation_a",
        "nation_b",
        (F.floor(d * F.lit(1e3) + F.lit(0.5)) / F.lit(1e3)).alias("distance_km"),
    )


# ---------------------------------------------------------------------------
# stats_tost_equivalence — two one-sided tests (non-inferiority readout)
# ---------------------------------------------------------------------------

_TOST_MARGIN = 5.0  # dollars: the practical-equivalence bound
_TOST_CRIT = 1.6448536269514722  # z_{0.95}: reject each one-sided null below

_TOST_ORACLE = f"""
WITH v AS (
    SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
    FROM events WHERE event_type IN ('purchase', 'click')
),
m AS (
    SELECT g, count(*) AS n, sum(c) AS s, sum(c * c) AS ss FROM v GROUP BY g
),
w AS (
    SELECT max(CASE WHEN g = 1 THEN CAST(s AS DOUBLE) / n END) AS m1,
           max(CASE WHEN g = 0 THEN CAST(s AS DOUBLE) / n END) AS m0,
           max(CASE WHEN g = 1 THEN
               ((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)) / n
           END) AS se1,
           max(CASE WHEN g = 0 THEN
               ((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)) / n
           END) AS se0
    FROM m
),
t AS (
    SELECT (m1 - m0) / 100.0 AS diff_dollars,
           sqrt(se1 + se0) / 100.0 AS se_dollars
    FROM w
)
SELECT floor(diff_dollars * 1e4 + 0.5) / 1e4 AS diff_dollars,
       floor((diff_dollars + {_TOST_MARGIN}) / se_dollars * 1e4 + 0.5) / 1e4
           AS t_lower,
       floor((diff_dollars - {_TOST_MARGIN}) / se_dollars * 1e4 + 0.5) / 1e4
           AS t_upper,
       ((diff_dollars + {_TOST_MARGIN}) / se_dollars > {_TOST_CRIT}
        AND (diff_dollars - {_TOST_MARGIN}) / se_dollars < -{_TOST_CRIT})
           AS equivalent
FROM t
"""


@query("stats_tost_equivalence", _TOST_ORACLE)
def stats_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test: are purchase and click values PRACTICALLY
    the same within a ±$5 margin? Two one-sided z tests — reject
    'diff <= -margin' AND 'diff >= +margin' — the non-inferiority
    readout a platform needs when shipping a cheaper variant, which
    `stats_welch_ttest` (can't prove absence of difference) does not
    give. One exact-integer moment pass; the z critical value is an
    identical embedded literal (`stats_mde_power` discipline)."""
    ev = read_table(spark, sf_dir, "events")
    v = ev.where(F.col("event_type").isin("purchase", "click")).select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("g"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )
    m = v.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    sem = (
        (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n"))
        / (F.col("n") - 1)
    ) / F.col("n")
    w = m.agg(
        F.max(F.when(F.col("g") == 1, mean)).alias("m1"),
        F.max(F.when(F.col("g") == 0, mean)).alias("m0"),
        F.max(F.when(F.col("g") == 1, sem)).alias("se1"),
        F.max(F.when(F.col("g") == 0, sem)).alias("se0"),
    )
    diff = (F.col("m1") - F.col("m0")) / F.lit(100.0)
    se = F.sqrt(F.col("se1") + F.col("se0")) / F.lit(100.0)
    t = w.select(diff.alias("diff_dollars"), se.alias("se_dollars"))
    r4 = lambda c: F.floor(c * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)  # noqa: E731
    tl = (F.col("diff_dollars") + F.lit(_TOST_MARGIN)) / F.col("se_dollars")
    tu = (F.col("diff_dollars") - F.lit(_TOST_MARGIN)) / F.col("se_dollars")
    return t.select(
        r4(F.col("diff_dollars")).alias("diff_dollars"),
        r4(tl).alias("t_lower"),
        r4(tu).alias("t_upper"),
        ((tl > F.lit(_TOST_CRIT)) & (tu < F.lit(-_TOST_CRIT))).alias("equivalent"),
    )


# ---------------------------------------------------------------------------
# stats_qq_points — quantile-quantile comparison of two samples
# ---------------------------------------------------------------------------

def _qq_sql() -> str:
    probs = [k / 20.0 for k in range(1, 20)]
    qp = ",\n           ".join(
        f"floor(quantile_disc(CASE WHEN event_type = 'purchase' THEN value END, {p})"
        f" * 1e4 + 0.5) / 1e4 AS qp{k}"
        for k, p in enumerate(probs, start=1)
    )
    qc = ",\n           ".join(
        f"floor(quantile_disc(CASE WHEN event_type = 'click' THEN value END, {p})"
        f" * 1e4 + 0.5) / 1e4 AS qc{k}"
        for k, p in enumerate(probs, start=1)
    )
    branches = "\n    UNION ALL\n".join(
        f"    SELECT CAST({round(p, 2)} AS DOUBLE) AS prob, qp{k} AS q_purchase, qc{k} AS q_click FROM q"
        for k, p in enumerate(probs, start=1)
    )
    return f"""
WITH q AS (
    SELECT {qp},
           {qc}
    FROM events WHERE event_type IN ('purchase', 'click')
)
{branches}
"""


@query("stats_qq_points", _qq_sql())
def stats_qq_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q-Q plot points: the 5%..95% quantiles of purchase vs click
    values paired by probability — the distribution-shape comparison
    that says WHERE two samples differ (tails vs body), which the
    scalar two-sample tests (`stats_ks_distance`, `stats_welch_ttest`)
    compress away. A straight line = same shape; curvature localizes
    the divergence.

    All 38 quantiles come from ONE aggregate pass (conditional
    percentile state per sample — fixed-size, mergeable); the unpivot
    to (prob, q_purchase, q_click) rows is a 19-row stack over the
    1-row aggregate."""
    ev = read_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "click")
    )
    probs = [k / 20.0 for k in range(1, 20)]
    r4 = lambda c: F.floor(c * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)  # noqa: E731
    # TWO sketches (one per conditional column) queried at all 19 ranks
    # (r9, approx_pctls): the per-(p, column) form built 38 independent
    # summaries, each buffering its column once per task
    q = ev.agg(
        F.transform(
            approx_pctls(
                F.when(F.col("event_type") == "purchase", F.col("value")),
                tuple(probs),
            ),
            r4,
        ).alias("qps"),
        F.transform(
            approx_pctls(
                F.when(F.col("event_type") == "click", F.col("value")),
                tuple(probs),
            ),
            r4,
        ).alias("qcs"),
    )
    stack_args = ", ".join(
        f"{round(p, 2)}D, element_at(qps, {k}), element_at(qcs, {k})"
        for k, p in enumerate(probs, start=1)
    )
    return q.select(
        F.expr(
            f"stack({len(probs)}, {stack_args}) AS (prob, q_purchase, q_click)"
        )
    )
