"""Decision-support tier: difference-in-differences (the workhorse
quasi-experimental estimator), the newsvendor critical fractile
(inventory stocking levels straight from the demand distribution), a
differentially-private histogram release (deterministic-seed Laplace
noise — the privacy family's publication step after `dq_k_anonymity` /
`dq_l_diversity` / `dq_t_closeness` decide a release is even
permissible), and the decile gains/lift table (the campaign-targeting
readout practitioners actually act on, where `ml_auc_roc` is the
scalar summary).

The reference feeds dashboards (Elasticsearch) and leaves decisions to
humans; this tier computes the decision quantities engine-side.

Scale notes baked into each builder:
- DiD is ONE conditional aggregate over the fact producing 12 exact
  sums (n, S, S2 per 2x2 cell) — sums go through DECIMAL(38,0) /
  HUGEINT so squared-cents accumulators cannot overflow at any SF —
  then closed-form means/variances/SE on the 1-row result; the
  treated flag comes from a key equi-join to the customer dim and the
  period split from one broadcast min/max-year scalar;
- the newsvendor fractile runs per part on the (part, quantity)
  rollup — quantity's bounded keyspace (<=50) makes every window a
  <=50-row partition — and the output is the q* census, never a
  per-part listing;
- the DP histogram mints its Laplace draws from md5(seed:key) (the
  `stats_bootstrap_poisson` hash-as-draw discipline): u = (h+0.5)/2^32
  through the inverse CDF, so the release is reproducible and
  engine-identical without any RNG state;
- the gains table never sorts rows globally: ranks come from the
  distinct-score rollup's prefix counts plus a row_number WITHIN each
  score block (bounded partitions, event_id tie-break — the
  `ml_ndcg_at_k` discipline), deciles are integer arithmetic against
  a broadcast n, and the table itself is a 10-row relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.det import r6
from ..registry import query
from ..sources import read_table


# ---------------------------------------------------------------------------
# stats_diff_in_diff — 2x2 DiD on order value, BUILDING vs rest
# ---------------------------------------------------------------------------

_DID_ORACLE = """
WITH yr AS (
    SELECT (MIN(year(o_orderdate)) + MAX(year(o_orderdate)) + 1) // 2 AS mid
    FROM orders
),
base AS (
    SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS treated,
           CASE WHEN year(o.o_orderdate) >= yr.mid THEN 1 ELSE 0 END AS post,
           CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey, yr
),
cells AS (
    SELECT treated, post, COUNT(*) AS n, SUM(cents) AS s,
           SUM(cents * cents) AS s2
    FROM base GROUP BY 1, 2
),
p AS (
    SELECT SUM(n) AS n_total,
           SUM(CASE WHEN treated = 1 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS m_tp,
           SUM(CASE WHEN treated = 1 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS m_t0,
           SUM(CASE WHEN treated = 0 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS m_cp,
           SUM(CASE WHEN treated = 0 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS m_c0,
           SUM((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1) / n)
               AS se2
    FROM cells
)
SELECT n_total,
       floor((m_tp - m_t0 - (m_cp - m_c0)) / 100 * 1e6 + 0.5) / 1e6
           AS did_estimate,
       floor(sqrt(se2) / 100 * 1e6 + 0.5) / 1e6 AS se,
       floor((m_tp - m_t0 - (m_cp - m_c0)) / sqrt(se2) * 1e6 + 0.5) / 1e6
           AS t_stat
FROM p
"""


@query("stats_diff_in_diff", _DID_ORACLE)
def stats_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on mean order value: BUILDING-segment
    customers (treated) vs the rest (control), before vs after the
    midpoint year — the quasi-experimental estimator that subtracts
    the control group's secular trend from the treated group's change,
    the step beyond `stats_welch_ttest`'s single comparison and the
    batch counterpart to `events_interrupted_ts`' single-series break.
    One key equi-join tags orders with the segment, one broadcast
    scalar splits the timeline, and ONE conditional aggregate
    produces all 12 cell moments (n, S, S2 per 2x2 cell). Squared
    cents go through DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), so the
    accumulators are exact at any SF where a BIGINT would wrap. The
    Welch-style SE pools the four cell variances (each from its exact
    moment pair); DiD, SE, and t evaluate once in double on the 1-row
    result, reported in dollars.
    """
    o = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    yr = o.agg(
        (
            (F.min(F.year("o_orderdate")) + F.max(F.year("o_orderdate")) + 1)
            / 2
        )
        .cast("long")
        .alias("mid")
    )
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    base = (
        o.join(cust, o["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(yr))
        .select(
            F.when(F.col("c_mktsegment") == "BUILDING", 1)
            .otherwise(0)
            .alias("treated"),
            F.when(F.year("o_orderdate") >= F.col("mid"), 1)
            .otherwise(0)
            .alias("post"),
            cents.alias("cents"),
        )
    )
    dec = F.col("cents").cast("decimal(38,0)")
    cells = base.groupBy("treated", "post").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).alias("s"),
        F.sum(dec * dec).alias("s2"),
    )
    sd = F.col("s").cast("double")
    s2d = F.col("s2").cast("double")
    nd = F.col("n").cast("double")
    mean_if = lambda t, p: F.sum(  # noqa: E731
        F.when((F.col("treated") == t) & (F.col("post") == p), sd / nd)
    )
    p = cells.agg(
        F.sum("n").alias("n_total"),
        mean_if(1, 1).alias("m_tp"),
        mean_if(1, 0).alias("m_t0"),
        mean_if(0, 1).alias("m_cp"),
        mean_if(0, 0).alias("m_c0"),
        F.sum((s2d - sd * sd / nd) / (nd - 1) / nd).alias("se2"),
    )
    did = F.col("m_tp") - F.col("m_t0") - (F.col("m_cp") - F.col("m_c0"))
    se = F.sqrt(F.col("se2"))
    return p.select(
        "n_total",
        r6(did / 100).alias("did_estimate"),
        r6(se / 100).alias("se"),
        r6(did / se).alias("t_stat"),
    )


# ---------------------------------------------------------------------------
# agg_newsvendor_fractile — optimal stocking census at the 0.8 fractile
# ---------------------------------------------------------------------------

_NV_ORACLE = """
WITH pq AS (
    SELECT l_partkey AS p, CAST(l_quantity AS BIGINT) AS q, COUNT(*) AS c
    FROM lineitem GROUP BY 1, 2
),
tot AS (SELECT p, SUM(c) AS np, (8 * SUM(c) + 9) // 10 AS target FROM pq GROUP BY 1),
run AS (
    SELECT pq.p, pq.q, tot.target,
           SUM(pq.c) OVER (PARTITION BY pq.p ORDER BY pq.q
                           ROWS UNBOUNDED PRECEDING) AS cum
    FROM pq JOIN tot ON pq.p = tot.p
),
qstar AS (
    SELECT p, MIN(q) AS q_star FROM run WHERE cum >= target GROUP BY p
)
SELECT q_star, COUNT(*) AS n_parts
FROM qstar GROUP BY 1
"""


@query("agg_newsvendor_fractile", _NV_ORACLE)
def agg_newsvendor_fractile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor critical-fractile stocking census: for each part, the
    smallest order quantity q* covering the 0.8 fractile of its
    per-order demand distribution (critical ratio cu/(cu+co) = 0.8 —
    underage cost four times overage), reported as the q* histogram —
    the inventory-optimization rollup that turns the demand
    distribution each part already has into the decision number, the
    per-part counterpart to `feature_winsorize`'s global clamping.
    The exact discrete quantile never sorts the fact: quantity's
    bounded keyspace collapses the fact to the (part, quantity)
    rollup (one shuffle), the target count ceil(0.8 n_p) is pure
    integer arithmetic ((8n+9)//10), the running count is a window
    over <=50-row per-part partitions, and q* = min q with cum >=
    target. Output is the <=50-row census, not a per-part listing —
    the driver-sized shape survives any SF.
    """
    li = read_table(spark, sf_dir, "lineitem")
    pq = li.groupBy(
        F.col("l_partkey").alias("p"),
        F.col("l_quantity").cast("long").alias("q"),
    ).agg(F.count(F.lit(1)).alias("c"))
    tot = pq.groupBy("p").agg(
        F.expr("(8 * sum(c) + 9) div 10").alias("target")
    )
    wrun = Window.partitionBy("p").orderBy("q").rowsBetween(
        Window.unboundedPreceding, 0
    )
    run = pq.join(tot, "p").select(
        "p", "q", "target", F.sum("c").over(wrun).alias("cum")
    )
    qstar = (
        run.where(F.col("cum") >= F.col("target"))
        .groupBy("p")
        .agg(F.min("q").alias("q_star"))
    )
    return qstar.groupBy("q_star").agg(F.count(F.lit(1)).alias("n_parts"))


# ---------------------------------------------------------------------------
# dq_dp_histogram — Laplace(1/eps) histogram release, hash-as-draw
# ---------------------------------------------------------------------------

_DP_ORACLE = """
WITH hist AS (
    SELECT lang, COUNT(*) AS true_n FROM documents GROUP BY 1
),
noised AS (
    SELECT lang, true_n,
           (CAST('0x' || substr(md5('dp1:' || lang), 1, 8) AS BIGINT) + 0.5)
             / 4294967296.0 AS u
    FROM hist
)
SELECT lang, true_n,
       floor(-sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)) * 1e6 + 0.5) / 1e6
           AS noise,
       floor((true_n - sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5))) * 1e6 + 0.5)
           / 1e6 AS noisy_n
FROM noised
"""


@query("dq_dp_histogram", _DP_ORACLE)
def dq_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private language histogram: exact counts plus
    Laplace(sensitivity/eps = 1/1) noise via the inverse CDF — the
    publication step of the privacy family (`dq_k_anonymity` /
    `dq_l_diversity` / `dq_t_closeness` gate WHETHER to release;
    epsilon-DP noise is HOW, with a quantified privacy loss instead
    of a syntactic threshold). The Laplace draw is minted from
    md5(seed:key) — the `stats_bootstrap_poisson` hash-as-draw
    discipline — so the release is reproducible, auditable, and
    engine-identical without RNG state: u = (h32 + 0.5)/2^32 can
    never hit 0, 1/2, or 1 exactly, and noise =
    -sign(u-1/2)*ln(1-2|u-1/2|). One hash aggregate over the corpus;
    the noise arithmetic runs on the |langs|-row histogram. (An audit
    view: true_n ships alongside noisy_n to make the noise checkable;
    a production release would project it away.)
    """
    docs = read_table(spark, sf_dir, "documents")
    hist = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("true_n"))
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("dp1:"), F.col("lang"))), 1, 8),
            16,
            10,
        ).cast("long")
        + 0.5
    ) / 4294967296.0
    noise = -F.signum(u - 0.5) * F.log(1 - 2 * F.abs(u - 0.5))
    return hist.select(
        "lang",
        "true_n",
        r6(noise).alias("noise"),
        r6(F.col("true_n") + noise).alias("noisy_n"),
    )


# ---------------------------------------------------------------------------
# ml_lift_gains_table — decile gains / lift for campaign targeting
# ---------------------------------------------------------------------------

_LIFT_ORACLE = """
WITH base AS (
    SELECT event_id,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS score,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
    FROM events
),
rollup AS (
    SELECT score, COUNT(*) AS t FROM base GROUP BY 1
),
pre AS (
    SELECT score,
           COALESCE(SUM(t) OVER (ORDER BY score DESC
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS cum_before
    FROM rollup
),
n AS (SELECT COUNT(*) AS n, SUM(pos) AS total_pos FROM base),
ranked AS (
    SELECT b.pos,
           (10 * (p.cum_before
                  + row_number() OVER (PARTITION BY b.score ORDER BY b.event_id)
                  - 1)) // n.n AS decile
    FROM base b JOIN pre p ON b.score = p.score, n
),
dec AS (
    SELECT decile, COUNT(*) AS n_rows, SUM(pos) AS n_pos
    FROM ranked GROUP BY 1
),
cum AS (
    SELECT decile, n_rows, n_pos,
           SUM(n_pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cum_pos
    FROM dec
)
SELECT c.decile, c.n_rows, c.n_pos,
       floor(CAST(c.cum_pos AS DOUBLE) / n.total_pos * 1e6 + 0.5) / 1e6
           AS capture,
       floor((CAST(c.n_pos AS DOUBLE) / c.n_rows)
             / (CAST(n.total_pos AS DOUBLE) / n.n) * 1e6 + 0.5) / 1e6 AS lift
FROM cum c, n
"""


@query("ml_lift_gains_table", _LIFT_ORACLE)
def ml_lift_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile gains/lift table for value-score targeting of purchases —
    the campaign-planning readout behind `ml_auc_roc`'s scalar: rank
    by score, cut into 10 equal deciles, and report each decile's
    purchase capture (cumulative share of all positives) and lift
    (decile response rate over base rate) — "mail the top 3 deciles,
    get X% of buyers". The global ranking never sorts rows: ranks are
    the distinct-score rollup's prefix counts (descending, the
    `ml_auc_roc` machinery) plus a row_number WITHIN each score block
    (bounded partitions, event_id tie-break — `ml_ndcg_at_k`'s
    determinism discipline), and the decile is integer arithmetic
    (10*(rank-1)) div n against one broadcast scalar. Counts stay
    exact BIGINTs through the 10-row table; capture and lift divide
    once at the end.
    """
    ev = read_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    rollup = base.groupBy("score").agg(F.count(F.lit(1)).alias("t"))
    wpre = Window.orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    pre = rollup.select(
        "score", F.coalesce(F.sum("t").over(wpre), F.lit(0)).alias("cum_before")
    )
    n = base.agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").alias("total_pos")
    )
    wblk = Window.partitionBy("score").orderBy("event_id")
    ranked = (
        base.join(pre, "score")
        .join(F.broadcast(n))
        .withColumn("rnk", F.row_number().over(wblk))
        .select(
            "pos",
            F.expr("(10 * (cum_before + rnk - 1)) div n").alias("decile"),
        )
    )
    dec = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("pos").alias("n_pos")
    )
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = dec.select(
        "decile",
        "n_rows",
        "n_pos",
        F.sum("n_pos").over(wcum).alias("cum_pos"),
    )
    return cum.join(F.broadcast(n)).select(
        "decile",
        "n_rows",
        "n_pos",
        r6(F.col("cum_pos").cast("double") / F.col("total_pos")).alias("capture"),
        r6(
            (F.col("n_pos").cast("double") / F.col("n_rows"))
            / (F.col("total_pos").cast("double") / F.col("n"))
        ).alias("lift"),
    )
