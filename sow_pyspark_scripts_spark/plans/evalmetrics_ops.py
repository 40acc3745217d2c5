"""Evaluation-metrics tier: binned PR-AUC (the ranking-quality
readout for IMBALANCED labels, where `ml_auc_roc` is blind — ROC AUC
stays near 0.9 even when precision collapses at deployable
thresholds), Wilson score intervals (the proportion CI that behaves
at k=0/k=n where the Wald interval degenerates — the frequentist twin
of `stats_beta_binomial`), Cochran's Q (k-treatment marginal-
homogeneity on paired binary outcomes — the k>2 generalization of
McNemar that `stats_friedman_test` covers only for ordinal data),
and a two-sample Poisson rate-ratio test (count data per exposure
time — what `stats_welch_ttest` silently gets wrong when the metric
is a rate, not a mean).

Scale notes baked into each builder:
- PR-AUC collapses the fact to the bounded score axis (<=384 rows) in
  ONE hash aggregate; the cumulative windows and the trapezoid run
  over that rollup, so the single-partition exchange is scalar-sized
  at any fact scale. Each trapezoid term is quantized to picounit
  BIGINT BEFORE the final sum — integer addition is order-free, so
  the AUC is bit-stable regardless of partitioning;
- Wilson is a per-group closed form on two exact integers (n, k);
  everything after the group-by is map-free scalar arithmetic;
- Cochran's Q needs one user-keyed conditional-max aggregate (the
  per-block binary profile) and one global moment aggregate; both
  column totals G_j and the block-total squares sum(L_i^2) stay exact
  BIGINTs until the single final division;
- the Poisson test is ONE scan with conditional counts + two
  conditional distinct-day aggregates (exposure); the z statistic is
  closed-form on the 1-row result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.det import r6
from ..registry import query
from ..sources import read_table


# ---------------------------------------------------------------------------
# ml_pr_auc_binned — bucketed precision-recall curve area
# ---------------------------------------------------------------------------

_PR_ORACLE = """
WITH scored AS (
    SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos,
           (instr('0123456789abcdef',
                  substring(md5(CAST(event_id AS VARCHAR) || ':score'), 1, 1)) - 1) * 16
           + instr('0123456789abcdef',
                   substring(md5(CAST(event_id AS VARCHAR) || ':score'), 2, 1)) - 1
           + CASE WHEN event_type = 'purchase' THEN 128 ELSE 0 END AS score
    FROM events
),
rollup AS (
    SELECT score, SUM(pos) AS n_pos, COUNT(*) AS n FROM scored GROUP BY 1
),
cum AS (
    SELECT score,
           SUM(n_pos) OVER (ORDER BY score DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_pos,
           SUM(n) OVER (ORDER BY score DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
           SUM(n_pos) OVER () AS p_total,
           SUM(n) OVER () AS n_total
    FROM rollup
),
pr AS (
    SELECT n_total, p_total,
           CAST(cum_pos AS DOUBLE) / p_total AS recall,
           CAST(cum_pos AS DOUBLE) / cum_n AS prec,
           lag(CAST(cum_pos AS DOUBLE) / p_total, 1, 0.0)
               OVER (ORDER BY score DESC) AS prev_recall,
           lag(CAST(cum_pos AS DOUBLE) / cum_n, 1, 1.0)
               OVER (ORDER BY score DESC) AS prev_prec
    FROM cum
),
terms AS (
    SELECT n_total, p_total,
           CAST(floor((recall - prev_recall) * (prec + prev_prec) / 2 * 1e12
                      + 0.5) AS BIGINT) AS t_pico
    FROM pr
)
SELECT MIN(n_total) AS n_events, MIN(p_total) AS n_pos,
       floor(CAST(MIN(p_total) AS DOUBLE) / MIN(n_total) * 1e6 + 0.5) / 1e6
           AS prevalence,
       floor(SUM(t_pico) / 1e12 * 1e6 + 0.5) / 1e6 AS pr_auc
FROM terms
"""


@query("ml_pr_auc_binned", _PR_ORACLE)
def ml_pr_auc_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned precision-recall AUC by trapezoid over the score-bucket
    rollup: the ranking metric that actually moves when the positive
    class is rare — `ml_auc_roc`'s rank identity scores a classifier
    by how it orders negatives it will never act on, while PR-AUC
    charges every false positive at the operating point. The "model
    score" is content-addressed (md5 bucket 0..255) plus a +128 lift
    for true positives — a deterministic stand-in with a real,
    non-trivial curve, the same discipline as `ml_auc_roc`'s score.
    The fact collapses to the <=384-row score axis in one hash
    aggregate; cumulative TP/total windows, per-bucket precision and
    recall, and the trapezoid terms all run over that bounded rollup
    (the single-partition exchange is scalar-sized at 100 TB exactly
    as at sf0.001). Each trapezoid term is floor-quantized to
    picounit BIGINT before summation, so the total never depends on
    float addition order across partitions. The conventional anchor
    (recall 0, precision 1) enters as the lag defaults.
    """
    ev = read_table(spark, sf_dir, "events")
    h = F.md5(F.concat(F.col("event_id").cast("string"), F.lit(":score")))
    nib = lambda j: (  # noqa: E731
        F.instr(F.lit("0123456789abcdef"), F.substring(h, j, 1)) - 1
    )
    pos = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    score = nib(1) * 16 + nib(2) + F.when(pos == 1, 128).otherwise(0)
    rollup = ev.select(pos.alias("pos"), score.alias("score")).groupBy(
        "score"
    ).agg(F.sum("pos").alias("n_pos"), F.count(F.lit(1)).alias("n"))
    wd = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = rollup.select(
        "score",
        F.sum("n_pos").over(wd).alias("cum_pos"),
        F.sum("n").over(wd).alias("cum_n"),
        F.sum("n_pos").over(wall).alias("p_total"),
        F.sum("n").over(wall).alias("n_total"),
    )
    wl = Window.orderBy(F.col("score").desc())
    recall = F.col("cum_pos").cast("double") / F.col("p_total")
    prec = F.col("cum_pos").cast("double") / F.col("cum_n")
    pr = cum.select(
        "n_total",
        "p_total",
        recall.alias("recall"),
        prec.alias("prec"),
        F.lag(recall, 1, 0.0).over(wl).alias("prev_recall"),
        F.lag(prec, 1, 1.0).over(wl).alias("prev_prec"),
    )
    terms = pr.select(
        "n_total",
        "p_total",
        F.floor(
            (F.col("recall") - F.col("prev_recall"))
            * (F.col("prec") + F.col("prev_prec"))
            / 2
            * 1e12
            + F.lit(0.5)
        )
        .cast("long")
        .alias("t_pico"),
    )
    return terms.agg(
        F.min("n_total").alias("n_events"),
        F.min("p_total").alias("n_pos"),
        r6(F.min("p_total").cast("double") / F.min("n_total")).alias("prevalence"),
        r6(F.sum("t_pico") / F.lit(1e12)).alias("pr_auc"),
    )


# ---------------------------------------------------------------------------
# stats_wilson_interval — proportion CI that survives k=0 / k=n
# ---------------------------------------------------------------------------

_WILSON_ORACLE = """
WITH s AS (
    SELECT event_type, COUNT(*) AS n,
           SUM(CASE WHEN CAST(floor(value * 100 + 0.5) AS BIGINT) >= 5000
                    THEN 1 ELSE 0 END) AS k
    FROM events GROUP BY 1
),
w AS (
    SELECT event_type, n, k,
           CAST(k AS DOUBLE) / n AS p,
           1.96 * 1.96 / n AS z2n
    FROM s
)
SELECT event_type, n, k,
       floor(p * 1e6 + 0.5) / 1e6 AS p_hat,
       floor(GREATEST(0.0,
             (p + z2n / 2 - 1.96 * sqrt(p * (1 - p) / n + z2n / (4 * n)))
             / (1 + z2n)) * 1e6 + 0.5) / 1e6 AS ci_lo,
       floor(LEAST(1.0,
             (p + z2n / 2 + 1.96 * sqrt(p * (1 - p) / n + z2n / (4 * n)))
             / (1 + z2n)) * 1e6 + 0.5) / 1e6 AS ci_hi
FROM w ORDER BY event_type
"""


@query("stats_wilson_interval", _WILSON_ORACLE)
def stats_wilson_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score 95% interval for the high-value share (cents >=
    5000) of each event type: the proportion CI that stays inside
    [0,1] and keeps honest coverage at k=0 and k=n, where the
    textbook Wald interval collapses to a point — which is exactly
    the regime small segments live in, so a dashboard Wald CI
    silently under-covers its rarest (most interesting) slices. The
    frequentist twin of `stats_beta_binomial`'s posterior interval:
    same two exact integers (n, k) per group from one conditional
    hash aggregate, then the closed-form center shrink (p + z²/2n)
    / (1 + z²/n) and half-width — pure scalar arithmetic per group
    row, no second pass. The value threshold goes through the
    integer-cents gate so both engines classify identically; z =
    1.96 enters as a shared literal.
    """
    ev = read_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(cents >= 5000, 1).otherwise(0)).alias("k"),
    )
    p = F.col("k").cast("double") / F.col("n")
    z2n = F.lit(1.96 * 1.96) / F.col("n")
    half = F.lit(1.96) * F.sqrt(
        p * (1 - p) / F.col("n") + z2n / (4 * F.col("n"))
    )
    center = p + z2n / 2
    denom = 1 + z2n
    return s.select(
        "event_type",
        "n",
        "k",
        r6(p).alias("p_hat"),
        r6(F.greatest(F.lit(0.0), (center - half) / denom)).alias("ci_lo"),
        r6(F.least(F.lit(1.0), (center + half) / denom)).alias("ci_hi"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# stats_cochran_q — k-treatment paired binary homogeneity
# ---------------------------------------------------------------------------

_COCHRAN_Q_ORACLE = """
WITH blocks AS (
    SELECT user_id,
           MAX(CASE WHEN event_type = 'click'
                    AND CAST(floor(value * 100 + 0.5) AS BIGINT) >= 10000
                    THEN 1 ELSE 0 END) AS x_click,
           MAX(CASE WHEN event_type = 'view'
                    AND CAST(floor(value * 100 + 0.5) AS BIGINT) >= 10000
                    THEN 1 ELSE 0 END) AS x_view,
           MAX(CASE WHEN event_type = 'purchase'
                    AND CAST(floor(value * 100 + 0.5) AS BIGINT) >= 10000
                    THEN 1 ELSE 0 END) AS x_purchase
    FROM events GROUP BY 1
),
m AS (
    SELECT COUNT(*) AS n_users,
           SUM(x_click) AS g_click,
           SUM(x_view) AS g_view,
           SUM(x_purchase) AS g_purchase,
           SUM(x_click + x_view + x_purchase) AS t,
           SUM((x_click + x_view + x_purchase)
               * (x_click + x_view + x_purchase)) AS l2
    FROM blocks
)
SELECT n_users, g_click, g_view, g_purchase,
       CASE WHEN 3 * t - l2 = 0 THEN NULL ELSE
       floor(2.0 * (3 * (g_click * g_click + g_view * g_view
                         + g_purchase * g_purchase) - t * t)
             / (3 * t - l2) * 1e6 + 0.5) / 1e6 END AS q_stat,
       CASE WHEN 3 * t - l2 = 0 THEN NULL ELSE
       2.0 * (3 * (g_click * g_click + g_view * g_view
                   + g_purchase * g_purchase) - t * t)
           / (3 * t - l2) > 5.991 END AS reject_h0
FROM m
"""


@query("stats_cochran_q", _COCHRAN_Q_ORACLE)
def stats_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q across three paired binary treatments — did each
    user post a HIGH-VALUE (cents >= 10000) click / view / purchase
    at least once — testing whether the three high-value reach rates
    are marginally homogeneous on the SAME user population. (Plain
    reach saturates every block at L = k in this corpus, which makes
    the statistic degenerate — the kT − ΣL² = 0 guard below returns
    NULL for exactly that all-concordant case rather than erroring
    under ANSI mode.) This is the k-treatment generalization of McNemar
    and the binary sibling of `stats_friedman_test`: chi-square
    tests on the three independent 2x1 margins are wrong here
    because the samples are the same blocks, and the paired design
    is what gives the test its power. One user-keyed aggregate
    builds the per-block 0/1 profile (conditional max — the profile
    is three bits, not three passes); one global aggregate takes the
    column totals G_j, the block-total sum T, and sum(L_i²), all
    exact BIGINTs. Q = (k-1)(k·ΣG_j² − T²)/(kT − ΣL_i²) with k = 3
    is a single division on the 1-row result; df = 2 puts the 5.991
    critical value (alpha = .05) in the reject flag.
    """
    ev = read_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    blocks = ev.groupBy("user_id").agg(
        *[
            F.max(
                F.when(
                    (F.col("event_type") == t) & (cents >= 10000), 1
                ).otherwise(0)
            ).alias(f"x_{t}")
            for t in ("click", "view", "purchase")
        ]
    )
    l = F.col("x_click") + F.col("x_view") + F.col("x_purchase")  # noqa: E741
    m = blocks.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("x_click").alias("g_click"),
        F.sum("x_view").alias("g_view"),
        F.sum("x_purchase").alias("g_purchase"),
        F.sum(l).alias("t"),
        F.sum(l * l).alias("l2"),
    )
    g2 = (
        F.col("g_click") * F.col("g_click")
        + F.col("g_view") * F.col("g_view")
        + F.col("g_purchase") * F.col("g_purchase")
    )
    denom = 3 * F.col("t") - F.col("l2")
    q = F.lit(2.0) * (3 * g2 - F.col("t") * F.col("t")) / denom
    return m.select(
        "n_users",
        "g_click",
        "g_view",
        "g_purchase",
        F.when(denom != 0, r6(q)).alias("q_stat"),
        F.when(denom != 0, q > 5.991).alias("reject_h0"),
    )


# ---------------------------------------------------------------------------
# stats_poisson_two_rate — weekend vs weekday event-rate ratio
# ---------------------------------------------------------------------------

_POISSON_ORACLE = """
WITH tagged AS (
    SELECT CASE WHEN dayofweek(CAST(ts AS DATE)) IN (0, 6) THEN 1 ELSE 0 END
               AS wkend,
           CAST(ts AS DATE) AS day
    FROM events
),
s AS (
    SELECT SUM(wkend) AS c1,
           COUNT(DISTINCT CASE WHEN wkend = 1 THEN day END) AS d1,
           SUM(1 - wkend) AS c2,
           COUNT(DISTINCT CASE WHEN wkend = 0 THEN day END) AS d2
    FROM tagged
)
SELECT c1, d1, c2, d2,
       floor((CAST(c1 AS DOUBLE) / d1) / (CAST(c2 AS DOUBLE) / d2)
             * 1e6 + 0.5) / 1e6 AS rate_ratio,
       floor((ln(CAST(c1 AS DOUBLE) / d1) - ln(CAST(c2 AS DOUBLE) / d2))
             / sqrt(1.0 / c1 + 1.0 / c2) * 1e6 + 0.5) / 1e6 AS z_stat,
       abs((ln(CAST(c1 AS DOUBLE) / d1) - ln(CAST(c2 AS DOUBLE) / d2))
           / sqrt(1.0 / c1 + 1.0 / c2)) > 1.96 AS significant
FROM s
"""


@query("stats_poisson_two_rate", _POISSON_ORACLE)
def stats_poisson_two_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Poisson rate-ratio test: weekend vs weekday events
    per exposure day, z = ln(r1/r2)/sqrt(1/c1 + 1/c2) — the correct
    inference when the metric is a COUNT PER TIME, which
    `stats_welch_ttest` mishandles by treating unequal exposure
    windows (2 weekend days vs 5 weekdays) as equal-weight samples.
    Exposure is the observed distinct-day count per class, so a
    partial final week doesn't bias the rate. ONE scan: conditional
    event counts plus two conditional distinct-day aggregates (one
    Expand, bounded day keyspace); the log-ratio z and its 1.96 flag
    are closed-form on the 1-row result. Weekday classification goes
    through the engines' aligned day-of-week forms (Spark
    dayofweek IN (1,7) == DuckDB dayofweek IN (0,6)).
    """
    ev = read_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    wkend = F.when(F.dayofweek(day).isin(1, 7), 1).otherwise(0)
    s = ev.select(wkend.alias("wkend"), day.alias("day")).agg(
        F.sum("wkend").alias("c1"),
        F.countDistinct(
            F.when(F.col("wkend") == 1, F.col("day"))
        ).alias("d1"),
        F.sum(1 - F.col("wkend")).alias("c2"),
        F.countDistinct(
            F.when(F.col("wkend") == 0, F.col("day"))
        ).alias("d2"),
    )
    r1 = F.col("c1").cast("double") / F.col("d1")
    r2 = F.col("c2").cast("double") / F.col("d2")
    z = (F.log(r1) - F.log(r2)) / F.sqrt(
        F.lit(1.0) / F.col("c1") + F.lit(1.0) / F.col("c2")
    )
    return s.select(
        "c1",
        "d1",
        "c2",
        "d2",
        r6(r1 / r2).alias("rate_ratio"),
        r6(z).alias("z_stat"),
        (F.abs(z) > 1.96).alias("significant"),
    )
