"""Paired / rank-inference tier: the Wilcoxon signed-rank test (paired
two-condition comparison), the Friedman test (blocked rank ANOVA across
k treatments), the Hodges-Lehmann location estimator (the robust
"median effect size" companion to the sign tests), and the
Cochran-Armitage trend test (is a proportion drifting across ordered
groups).

The reference's only statistical instrumentation is eyeballing
`show()`/`count()` output (`sql_to_es_etl.py:93-95`,
`snowflake_to_es_etl.py:103-104`); this tier gives the engine the
nonparametric half of the inference toolbox that the parametric tier
(`stats_welch_ttest`, `stats_anova_oneway`) assumes away: no normality,
no equal variance, exact tie handling.

Scale notes baked into each builder:
- Wilcoxon never ranks raw rows: per-user paired sums are integer
  cents, the |d| rollup carries both the tie count AND the
  positive-side count per magnitude, so the doubled mid-rank
  (2*cum - c + 1) folds into W+ on the rollup itself — one keyed
  aggregate over users, one bounded rollup, ZERO joins;
- Friedman ranks only inside (month x priority) cells — the fact
  collapses to a <=months*k rollup first, and every window partitions
  by block (<=k rows each), so nothing global ever sorts;
- Hodges-Lehmann walks Walsh pairs on the VALUE rollup, not the fact:
  quantity has a bounded keyspace (<=50 values), so all n(n+1)/2 pairs
  compress to <=50*51/2 weighted rollup pairs and the weighted median
  is a prefix-sum over a driver-sized relation;
- Cochran-Armitage is one conditional aggregate to the month grain
  and closed-form z from exact BIGINT sums (scores centered at the
  min month index so squared terms stay far from overflow at any SF).
"""

from __future__ import annotations

from ..functions.det import r6
from ..functions.pin import pin as _pin_lazy, pin_eager as _pin_eager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import read_table


# ---------------------------------------------------------------------------
# stats_wilcoxon_signed_rank — paired early-vs-late month spend shift
# ---------------------------------------------------------------------------

_WILCOXON_ORACLE = """
WITH pu AS (
    SELECT user_id,
           SUM(CASE WHEN day(ts) <= 15
                    THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS s1,
           SUM(CASE WHEN day(ts) > 15
                    THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS s2
    FROM events GROUP BY 1
),
d AS (SELECT s2 - s1 AS d FROM pu WHERE s2 <> s1),
r AS (
    SELECT abs(d) AS a, COUNT(*) AS c,
           SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS cpos
    FROM d GROUP BY 1
),
rk AS (
    SELECT c, cpos,
           2 * SUM(c) OVER (ORDER BY a ROWS UNBOUNDED PRECEDING) - c + 1 AS r2
    FROM r
),
s AS (
    SELECT SUM(c) AS n, SUM(cpos * r2) AS w2p, SUM(c * c * c - c) AS tie3
    FROM rk
)
SELECT n,
       CAST(w2p AS DOUBLE) / 2 AS w_plus,
       floor((CAST(w2p AS DOUBLE) / 2 - CAST(n AS DOUBLE) * (n + 1) / 4)
             / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24
                    - CAST(tie3 AS DOUBLE) / 48)
             * 1e6 + 0.5) / 1e6 AS z_stat
FROM s
"""


@query("stats_wilcoxon_signed_rank", _WILCOXON_ORACLE)
def stats_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on paired per-user spend: first half of
    the calendar month (day <= 15) vs second half — the nonparametric
    paired companion to `stats_welch_ttest` (unpaired) and
    `stats_mann_whitney` (independent samples): does each user's own
    activity shift within months, with no normality assumption on the
    wildly skewed per-user sums. Differences are exact integer cents
    (per-event half-up cents rounding, then integer sums), zero
    differences drop per the classical test, and |d| magnitudes
    collapse to a distinct-value rollup that carries BOTH the tie
    count and the positive-side count — so the doubled mid-rank
    2*cum - c + 1 (exact BIGINT, the `stats_mann_whitney` trick) folds
    straight into W+ = sum(cpos*r2)/2 on the rollup with NO join back
    to the pairs. Tie-corrected normal approximation
    z = (W+ - n(n+1)/4)/sqrt(n(n+1)(2n+1)/24 - sum(t^3-t)/48) closes
    it out in one double expression over exact integers. One keyed
    aggregate over users, one bounded rollup, zero joins, no global
    sort of anything row-sized.
    """
    ev = read_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    pu = ev.groupBy("user_id").agg(
        F.sum(F.when(F.dayofmonth("ts") <= 15, cents).otherwise(0)).alias("s1"),
        F.sum(F.when(F.dayofmonth("ts") > 15, cents).otherwise(0)).alias("s2"),
    )
    d = pu.where(F.col("s2") != F.col("s1")).select(
        (F.col("s2") - F.col("s1")).alias("d")
    )
    r = d.groupBy(F.abs(F.col("d")).alias("a")).agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).alias("cpos"),
    )
    w = Window.orderBy("a").rowsBetween(Window.unboundedPreceding, 0)
    rk = r.select(
        "c", "cpos", (2 * F.sum("c").over(w) - F.col("c") + 1).alias("r2")
    )
    s = rk.agg(
        F.sum("c").alias("n"),
        F.sum(F.col("cpos") * F.col("r2")).alias("w2p"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c")).alias("tie3"),
    )
    nd = F.col("n").cast("double")
    w_plus = F.col("w2p").cast("double") / 2
    mean = nd * (F.col("n") + 1) / 4
    var = nd * (F.col("n") + 1) * (2 * F.col("n") + 1) / 24 - F.col(
        "tie3"
    ).cast("double") / 48
    return s.select(
        "n",
        w_plus.alias("w_plus"),
        r6((w_plus - mean) / F.sqrt(var)).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# stats_friedman_test — blocked rank ANOVA: priority revenue across months
# ---------------------------------------------------------------------------

_FRIEDMAN_ORACLE = """
WITH cells AS (
    SELECT year(o_orderdate) * 100 + month(o_orderdate) AS blk,
           o_orderpriority AS trt,
           SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev
    FROM orders GROUP BY 1, 2
),
k AS (SELECT COUNT(DISTINCT trt) AS k FROM cells),
full_blocks AS (
    SELECT blk FROM cells GROUP BY blk
    HAVING COUNT(*) = (SELECT k FROM k)
),
ranked AS (
    SELECT c.trt,
           2 * rank() OVER (PARTITION BY c.blk ORDER BY c.rev)
             + COUNT(*) OVER (PARTITION BY c.blk, c.rev) - 1 AS r2,
           COUNT(*) OVER (PARTITION BY c.blk, c.rev) AS t
    FROM cells c JOIN full_blocks f ON c.blk = f.blk
),
rsum AS (SELECT trt, SUM(r2) AS r2j FROM ranked GROUP BY 1),
ties AS (
    SELECT COALESCE(SUM(t * t - 1), 0) AS tcorr, COUNT(*) AS ncells
    FROM ranked
),
s AS (
    SELECT (SELECT COUNT(*) FROM full_blocks) AS n,
           (SELECT k FROM k) AS k,
           (SELECT SUM(CAST(r2j AS DOUBLE) * r2j) / 4 FROM rsum) AS sr2,
           (SELECT CAST(tcorr AS DOUBLE) / ncells FROM ties) AS tbar
)
SELECT n, k,
       floor((12.0 / (CAST(n AS DOUBLE) * k * (k + 1)) * sr2 - 3.0 * n * (k + 1))
             / (1.0 - tbar / (CAST(k AS DOUBLE) * k - 1))
             * 1e6 + 0.5) / 1e6 AS chi2_stat
FROM s
"""


@query("stats_friedman_test", _FRIEDMAN_ORACLE)
def stats_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test: do the k order-priority classes earn consistently
    different monthly revenue, treating each month as a matched block —
    the repeated-measures extension of `stats_mann_whitney` that
    `stats_anova_oneway` cannot answer once month-to-month level shifts
    (seasonality, growth) dominate the between-group variance. The fact
    collapses FIRST to the (month, priority) cell rollup (exact cents
    sums), blocks missing a treatment drop (classical complete-block
    requirement), and ranking happens only inside blocks: the doubled
    mid-rank 2*rank + ties - 1 over a <=k-row partition keeps ranks
    exact BIGINTs while never sorting anything bigger than k rows.
    chi2_F = [12/(nk(k+1)) * sum R_j^2 - 3n(k+1)] with the standard
    tie-correction divisor 1 - sum(t^2-1)/(ncells(k^2-1)) (revenue
    cents make ties measure-zero, but the formula stays exact if they
    happen). Everything after the cell rollup is driver-sized.
    """
    o = read_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("blk"),
        F.col("o_orderpriority").alias("trt"),
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("rev")
    ).transform(_pin_lazy)
    k = cells.agg(F.countDistinct("trt").alias("k"))
    full_blocks = (
        cells.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("nc"))
        .join(F.broadcast(k), F.col("nc") == F.col("k"))
        .select("blk")
    )
    wrank = Window.partitionBy("blk").orderBy("rev")
    wties = Window.partitionBy("blk", "rev")
    ranked = cells.join(F.broadcast(full_blocks), "blk").select(
        "trt",
        (2 * F.rank().over(wrank) + F.count(F.lit(1)).over(wties) - 1).alias(
            "r2"
        ),
        F.count(F.lit(1)).over(wties).alias("t"),
    )
    rsum = ranked.groupBy("trt").agg(F.sum("r2").alias("r2j"))
    sr2 = rsum.agg(
        (F.sum(F.col("r2j").cast("double") * F.col("r2j")) / 4).alias("sr2")
    )
    ties = ranked.agg(
        F.coalesce(F.sum(F.col("t") * F.col("t") - 1), F.lit(0)).alias("tcorr"),
        F.count(F.lit(1)).alias("ncells"),
    )
    nb = full_blocks.agg(F.count(F.lit(1)).alias("n"))
    s = (
        nb.join(F.broadcast(k))
        .join(F.broadcast(sr2))
        .join(F.broadcast(ties))
    )
    nd, kd = F.col("n").cast("double"), F.col("k").cast("double")
    chi2 = 12.0 / (nd * kd * (kd + 1)) * F.col("sr2") - 3.0 * nd * (kd + 1)
    divisor = 1.0 - (F.col("tcorr").cast("double") / F.col("ncells")) / (
        kd * kd - 1
    )
    return s.select("n", "k", r6(chi2 / divisor).alias("chi2_stat"))


# ---------------------------------------------------------------------------
# agg_hodges_lehmann — robust location via Walsh averages on the rollup
# ---------------------------------------------------------------------------

_HL_ORACLE = """
WITH v AS (
    SELECT CAST(l_quantity AS BIGINT) AS v, COUNT(*) AS c
    FROM lineitem GROUP BY 1
),
p AS (
    SELECT a.v + b.v AS s,
           CASE WHEN a.v < b.v THEN a.c * b.c
                ELSE a.c * (a.c + 1) // 2 END AS w
    FROM v a JOIN v b ON a.v <= b.v
),
ps AS (SELECT s, SUM(w) AS w FROM p GROUP BY 1),
c AS (
    SELECT s, SUM(w) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(w) OVER () AS tot
    FROM ps
)
SELECT (SELECT SUM(c) FROM v) AS n,
       MIN(tot) AS n_pairs,
       MIN(s) / 2.0 AS hl_estimate
FROM c WHERE cum >= (tot + 1) / 2
"""


@query("agg_hodges_lehmann", _HL_ORACLE)
def agg_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann location estimator of order quantity: the median
    of all n(n+1)/2 Walsh averages (x_i + x_j)/2, i <= j — the robust
    "typical value" that pairs with `stats_wilcoxon_signed_rank` the
    way the mean pairs with the t-test (30% breakdown point, yet far
    more efficient than the plain median under near-normal data). The
    quadratic pair space never materializes: quantity lives on a
    bounded keyspace (<=50 distinct values), so the fact collapses to
    a value rollup and Walsh pairs become <=50*51/2 weighted rollup
    pairs (weight c_a*c_b for a<b, c(c+1)/2 on the diagonal — exact
    BIGINTs summing to exactly n(n+1)/2, a built-in self-check). The
    weighted lower median is the first doubled-sum s whose prefix
    weight reaches ceil(total/2) — an integer rule both engines apply
    identically; /2.0 at the end is exact in binary. One fact scan,
    one broadcast self-join of a 50-row relation, one driver-sized
    prefix sum.
    """
    li = read_table(spark, sf_dir, "lineitem")
    v = li.groupBy(F.col("l_quantity").cast("long").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    ).transform(_pin_lazy)
    a = v.select(F.col("v").alias("va"), F.col("c").alias("ca"))
    b = v.select(F.col("v").alias("vb"), F.col("c").alias("cb"))
    pairs = a.join(F.broadcast(b), F.col("va") <= F.col("vb")).select(
        (F.col("va") + F.col("vb")).alias("s"),
        F.when(F.col("va") < F.col("vb"), F.col("ca") * F.col("cb"))
        .otherwise(F.expr("ca * (ca + 1) div 2"))
        .cast("long")
        .alias("w"),
    )
    ps = pairs.groupBy("s").agg(F.sum("w").alias("w"))
    wc = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.orderBy("s").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = ps.select(
        "s", F.sum("w").over(wc).alias("cum"), F.sum("w").over(wt).alias("tot")
    )
    n = v.agg(F.sum("c").alias("n"))
    hit = c.where(F.col("cum") >= (F.col("tot") + 1) / 2).agg(
        F.min("tot").alias("n_pairs"), (F.min("s") / 2.0).alias("hl_estimate")
    )
    return n.join(F.broadcast(hit))


# ---------------------------------------------------------------------------
# stats_cochran_armitage — trend in urgent-order share across months
# ---------------------------------------------------------------------------

_CA_ORACLE = """
WITH b AS (
    SELECT MIN(year(o_orderdate) * 12 + month(o_orderdate)) AS m0 FROM orders
),
g AS (
    SELECT year(o_orderdate) * 12 + month(o_orderdate) - b.m0 AS w,
           COUNT(*) AS ni,
           SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS ri
    FROM orders, b GROUP BY 1
),
s AS (
    SELECT COUNT(*) AS k, SUM(ni) AS n, SUM(ri) AS r,
           SUM(w * ri) AS swr, SUM(w * ni) AS swn, SUM(w * w * ni) AS swwn
    FROM g
)
SELECT k AS n_months, n, r AS n_pos,
       floor((CAST(swr AS DOUBLE) - CAST(swn AS DOUBLE) * r / n)
             / sqrt((CAST(r AS DOUBLE) / n) * (1 - CAST(r AS DOUBLE) / n)
                    * (CAST(swwn AS DOUBLE) - CAST(swn AS DOUBLE) * swn / n))
             * 1e6 + 0.5) / 1e6 AS z_stat
FROM s
"""


@query("stats_cochran_armitage", _CA_ORACLE)
def stats_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test: is the urgent/high-priority share of
    orders drifting across ordered month groups — the categorical
    counterpart to `stats_mann_kendall_trend` (which trends a LEVEL,
    not a proportion) and the principled replacement for eyeballing
    `dq_control_chart_pchart`'s monthly p's: one z-statistic for a
    monotone dose-response across the ordered groups. Scores are month
    indices CENTERED at the min month (the statistic is shift-invariant
    and centering keeps every squared BIGINT sum ~10 orders of
    magnitude below overflow at any SF). The fact collapses to the
    month grain in one conditional aggregate (ni, ri per month); the
    five score moments are exact BIGINTs from the <=months-row rollup,
    and z = sum w(r_i - n_i*pbar) / sqrt(pbar(1-pbar)(sum n w^2 -
    (sum n w)^2/n)) evaluates once in double. The min-month scalar
    broadcasts; nothing row-sized shuffles twice.
    """
    o = read_table(spark, sf_dir, "orders")
    mi = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    b = o.agg(F.min(mi).alias("m0"))
    g = (
        o.join(F.broadcast(b))
        .groupBy((mi - F.col("m0")).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("ni"),
            F.sum(
                F.when(
                    F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
                ).otherwise(0)
            ).alias("ri"),
        )
    )
    s = g.agg(
        F.count(F.lit(1)).alias("n_months"),
        F.sum("ni").alias("n"),
        F.sum("ri").alias("n_pos"),
        F.sum(F.col("w") * F.col("ri")).alias("swr"),
        F.sum(F.col("w") * F.col("ni")).alias("swn"),
        F.sum(F.col("w") * F.col("w") * F.col("ni")).alias("swwn"),
    )
    nd = F.col("n").cast("double")
    pbar = F.col("n_pos").cast("double") / nd
    num = F.col("swr").cast("double") - F.col("swn").cast("double") * F.col(
        "n_pos"
    ) / nd
    var = pbar * (1 - pbar) * (
        F.col("swwn").cast("double")
        - F.col("swn").cast("double") * F.col("swn") / nd
    )
    return s.select(
        "n_months", "n", "n_pos", r6(num / F.sqrt(var)).alias("z_stat")
    )
