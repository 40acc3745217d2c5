"""Scaling-law / multivariate-test tier: the data-side scaling-curve
readout (how fast does held-out error fall as training data grows),
the two-sample Hotelling T² multivariate mean test, and pinball-loss
evaluation of quantile forecasts.

Scale notes baked into each builder:
- the data-scaling curve fits FOUR nested-subset models and their
  held-out errors from ONE aggregation pass: per-hash-bucket
  sufficient statistics cumulate into nested training subsets
  (buckets <= k) by a conditional sum over the 10-row bucket rollup
  crossed with the subset spine, each subset's OLS and test-side MSE
  expand algebraically (the `ml_cv_fold_ols` machinery pointed at
  scaling laws), and the log-log slope over the 4 (n, mse) points is
  the closed-form fit. No subset is ever re-scanned;
- Hotelling T² inverts the pooled 2x2 covariance in closed form from
  exact integer co-moments — one conditional hash aggregate over the
  two groups, arithmetic on one row;
- pinball evaluation reuses the lag-7 seasonal-naive forecast
  (`events_forecast_seasonal_naive`'s backtest shape) and scores it
  at q=0.5 and q=0.9 with one keyed lag window + a conditional
  aggregate — the loss a quantile forecaster must beat, priced on
  the calendar-bounded rollup.
"""

from __future__ import annotations

from ..functions.det import r6
from ..functions.pin import pin as _pin_lazy, pin_eager as _pin_eager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import read_table


# ---------------------------------------------------------------------------
# ml_data_scaling_curve — held-out error vs training-set size, one pass
# ---------------------------------------------------------------------------

_SUBSET_TOPS = [0, 1, 3, 7]  # buckets 0..k train; buckets 8,9 test

_SCALING_ORACLE = f"""
WITH pts AS (
    SELECT (l_orderkey * 2654435761) % 97 % 10 AS bkt,
           CAST(l_quantity AS BIGINT) AS x,
           CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
    FROM lineitem
),
per_bkt AS (
    SELECT bkt, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
           SUM(CAST(x AS HUGEINT) * x) AS sxx,
           SUM(CAST(x AS HUGEINT) * y) AS sxy,
           SUM(CAST(y AS HUGEINT) * y) AS syy
    FROM pts GROUP BY 1
),
test AS (
    SELECT SUM(n) AS tn, SUM(sx) AS tsx, SUM(sy) AS tsy,
           SUM(sxx) AS tsxx, SUM(sxy) AS tsxy, SUM(syy) AS tsyy
    FROM per_bkt WHERE bkt >= 8
),
subsets AS (
    SELECT k.k,
           SUM(CASE WHEN b.bkt <= k.k THEN b.n ELSE 0 END) AS n,
           SUM(CASE WHEN b.bkt <= k.k THEN b.sx ELSE 0 END) AS sx,
           SUM(CASE WHEN b.bkt <= k.k THEN b.sy ELSE 0 END) AS sy,
           SUM(CASE WHEN b.bkt <= k.k THEN b.sxx ELSE 0 END) AS sxx,
           SUM(CASE WHEN b.bkt <= k.k THEN b.sxy ELSE 0 END) AS sxy
    FROM per_bkt b CROSS JOIN (SELECT UNNEST({_SUBSET_TOPS!r}) AS k) k
    GROUP BY 1
),
fits AS (
    SELECT s.k, s.n AS n_train,
           (CAST(s.n AS DOUBLE) * s.sxy - CAST(s.sx AS DOUBLE) * s.sy)
           / (CAST(s.n AS DOUBLE) * s.sxx - CAST(s.sx AS DOUBLE) * s.sx)
               AS b,
           (CAST(s.sy AS DOUBLE)
            - (CAST(s.n AS DOUBLE) * s.sxy - CAST(s.sx AS DOUBLE) * s.sy)
              / (CAST(s.n AS DOUBLE) * s.sxx - CAST(s.sx AS DOUBLE) * s.sx)
              * s.sx) / s.n AS a
    FROM subsets s
),
mses AS (
    SELECT f.k, f.n_train,
           (CAST(t.tsyy AS DOUBLE) - 2 * f.a * t.tsy - 2 * f.b * t.tsxy
            + t.tn * f.a * f.a + 2 * f.a * f.b * t.tsx
            + f.b * f.b * CAST(t.tsxx AS DOUBLE)) / t.tn / 10000 AS mse
    FROM fits f CROSS JOIN test t
),
slope AS (
    SELECT (COUNT(*) * SUM(ln(n_train) * ln(mse))
            - SUM(ln(n_train)) * SUM(ln(mse)))
           / (COUNT(*) * SUM(ln(n_train) * ln(n_train))
              - SUM(ln(n_train)) * SUM(ln(n_train))) AS expo
    FROM mses
)
SELECT m.k, m.n_train,
       floor(m.mse * 1e4 + 0.5) / 1e4 AS test_mse,
       floor(s.expo * 1e6 + 0.5) / 1e6 AS scaling_exponent
FROM mses m CROSS JOIN slope s
"""


@query("ml_data_scaling_curve", _SCALING_ORACLE)
def ml_data_scaling_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data scaling curve: held-out MSE of the price~quantity model
    trained on nested 10/20/40/80% hash subsets, plus the fitted
    log-log scaling exponent — the measurement behind every "is more
    data still buying accuracy" decision a training-data platform
    exists to answer (exponent near 0 = saturated; strongly negative
    = collect more). ALL four models and their held-out errors come
    from ONE aggregation pass: per-bucket sufficient statistics (10
    rows) cumulate into nested subsets via a conditional sum against
    the subset spine, each subset's OLS is the closed form, the
    held-out SSE expands algebraically against the FIXED test
    buckets' stats (`ml_cv_fold_ols`'s expansion), and the power-law
    exponent is a 4-point log-log OLS. Nested-by-construction subsets
    (buckets <= k) mirror how corpora actually grow — new data
    arrives on top of old.
    """
    li = read_table(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    pts = li.select(
        ((F.col("l_orderkey") * 2654435761) % 97 % 10).alias("bkt"),
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("y"),
    )
    per_bkt = pts.groupBy("bkt").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
        F.sum((F.col("y").cast(dec) * F.col("y"))).alias("syy"),
    ).transform(_pin_lazy)
    test = per_bkt.where(F.col("bkt") >= 8).agg(
        F.sum("n").alias("tn"),
        F.sum("sx").alias("tsx"),
        F.sum("sy").alias("tsy"),
        F.sum("sxx").alias("tsxx"),
        F.sum("sxy").alias("tsxy"),
        F.sum("syy").alias("tsyy"),
    )
    ks = spark.createDataFrame([(k,) for k in _SUBSET_TOPS], "k long")

    def csum(c):
        return F.sum(F.when(F.col("bkt") <= F.col("k"), F.col(c)).otherwise(0))

    subsets = per_bkt.join(F.broadcast(ks)).groupBy("k").agg(
        csum("n").alias("n"),
        csum("sx").alias("sx"),
        csum("sy").alias("sy"),
        csum("sxx").alias("sxx"),
        csum("sxy").alias("sxy"),
    )
    n = F.col("n").cast("double")
    b = (n * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy")) / (
        n * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx")
    )
    a = (F.col("sy").cast("double") - b * F.col("sx")) / n
    fits = subsets.select("k", F.col("n").alias("n_train"), b.alias("b"), a.alias("a"))
    tn = F.col("tn").cast("double")
    mse = (
        F.col("tsyy").cast("double")
        - 2 * F.col("a") * F.col("tsy")
        - 2 * F.col("b") * F.col("tsxy").cast("double")
        + tn * F.col("a") * F.col("a")
        + 2 * F.col("a") * F.col("b") * F.col("tsx")
        + F.col("b") * F.col("b") * F.col("tsxx").cast("double")
    ) / tn / 10000
    mses = fits.join(F.broadcast(test)).select(
        "k", "n_train", mse.alias("mse")
    )
    wall = Window.partitionBy()
    ln_n, ln_m = F.log(F.col("n_train").cast("double")), F.log("mse")
    cnt = F.count(F.lit(1)).over(wall).cast("double")
    expo = (
        cnt * F.sum(ln_n * ln_m).over(wall)
        - F.sum(ln_n).over(wall) * F.sum(ln_m).over(wall)
    ) / (
        cnt * F.sum(ln_n * ln_n).over(wall)
        - F.sum(ln_n).over(wall) * F.sum(ln_n).over(wall)
    )
    return mses.select(
        "k",
        "n_train",
        (F.floor(F.col("mse") * 1e4 + F.lit(0.5)) / 1e4).alias("test_mse"),
        r6(expo).alias("scaling_exponent"),
    )


# ---------------------------------------------------------------------------
# stats_hotelling_t2 — two-sample multivariate mean test
# ---------------------------------------------------------------------------

_T2_ORACLE = """
WITH pts AS (
    SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS g,
           CAST(l_quantity AS BIGINT) AS x1,
           CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x2
    FROM lineitem WHERE l_returnflag IN ('N', 'R')
),
m AS (
    SELECT g, COUNT(*) AS n, SUM(x1) AS s1, SUM(x2) AS s2,
           SUM(CAST(x1 AS HUGEINT) * x1) AS s11,
           SUM(CAST(x1 AS HUGEINT) * x2) AS s12,
           SUM(CAST(x2 AS HUGEINT) * x2) AS s22
    FROM pts GROUP BY 1
),
wide AS (
    SELECT MAX(CASE WHEN g = 0 THEN n END) AS n0,
           MAX(CASE WHEN g = 1 THEN n END) AS n1,
           MAX(CASE WHEN g = 0 THEN CAST(s1 AS DOUBLE) / n END) AS m10,
           MAX(CASE WHEN g = 1 THEN CAST(s1 AS DOUBLE) / n END) AS m11,
           MAX(CASE WHEN g = 0 THEN CAST(s2 AS DOUBLE) / n END) AS m20,
           MAX(CASE WHEN g = 1 THEN CAST(s2 AS DOUBLE) / n END) AS m21,
           SUM(CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) AS w11,
           SUM(CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 / n) AS w12,
           SUM(CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n) AS w22
    FROM m
),
t2 AS (
    SELECT n0, n1,
           (m11 - m10) AS d1, (m21 - m20) AS d2,
           w11 / (n0 + n1 - 2) AS p11,
           w12 / (n0 + n1 - 2) AS p12,
           w22 / (n0 + n1 - 2) AS p22
    FROM wide
)
SELECT n0, n1,
       floor(CAST(n0 AS DOUBLE) * n1 / (n0 + n1)
             * (d1 * (p22 * d1 - p12 * d2) + d2 * (p11 * d2 - p12 * d1))
             / (p11 * p22 - p12 * p12) * 1e6 + 0.5) / 1e6 AS t2
FROM t2
"""


@query("stats_hotelling_t2", _T2_ORACLE)
def stats_hotelling_t2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Hotelling T²: do returned ('R') and received ('N')
    lines differ in their JOINT (quantity, discount) mean vector —
    the multivariate generalization of `stats_welch_ttest` that
    catches correlated shifts two marginal t-tests miss (each mean
    moves a little, the vector moves a lot). One conditional hash
    aggregate produces exact integer co-moments per group; the pooled
    2x2 covariance inverts in closed form (adjugate over determinant)
    and T² = (n0·n1/(n0+n1))·d'·S⁻¹·d evaluates on one row.
    `embedding_covariance_drift` monitors second moments; this tests
    first moments against their covariance.
    """
    li = read_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag").isin("N", "R")
    )
    pts = li.select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("g"),
        F.col("l_quantity").cast("long").alias("x1"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long").alias(
            "x2"
        ),
    )
    dec = "decimal(38,0)"
    m = pts.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum((F.col("x1") * F.col("x1")).cast(dec)).alias("s11"),
        F.sum((F.col("x1") * F.col("x2")).cast(dec)).alias("s12"),
        F.sum((F.col("x2") * F.col("x2")).cast(dec)).alias("s22"),
    )
    nd = F.col("n").cast("double")

    def pick(g, expr):
        return F.max(F.when(F.col("g") == g, expr))

    wide = m.agg(
        pick(0, F.col("n")).alias("n0"),
        pick(1, F.col("n")).alias("n1"),
        pick(0, F.col("s1").cast("double") / nd).alias("m10"),
        pick(1, F.col("s1").cast("double") / nd).alias("m11"),
        pick(0, F.col("s2").cast("double") / nd).alias("m20"),
        pick(1, F.col("s2").cast("double") / nd).alias("m21"),
        F.sum(
            F.col("s11").cast("double")
            - F.col("s1").cast("double") * F.col("s1") / nd
        ).alias("w11"),
        F.sum(
            F.col("s12").cast("double")
            - F.col("s1").cast("double") * F.col("s2") / nd
        ).alias("w12"),
        F.sum(
            F.col("s22").cast("double")
            - F.col("s2").cast("double") * F.col("s2") / nd
        ).alias("w22"),
    )
    dof = (F.col("n0") + F.col("n1") - 2).cast("double")
    d1 = F.col("m11") - F.col("m10")
    d2 = F.col("m21") - F.col("m20")
    p11, p12, p22 = (
        F.col("w11") / dof,
        F.col("w12") / dof,
        F.col("w22") / dof,
    )
    t2 = (
        F.col("n0").cast("double")
        * F.col("n1")
        / (F.col("n0") + F.col("n1"))
        * (d1 * (p22 * d1 - p12 * d2) + d2 * (p11 * d2 - p12 * d1))
        / (p11 * p22 - p12 * p12)
    )
    return wide.select(
        "n0",
        "n1",
        r6(t2).alias("t2"),
    )


# ---------------------------------------------------------------------------
# ml_pinball_forecast_eval — quantile-loss scoring of the naive forecast
# ---------------------------------------------------------------------------

_PINBALL_QS = [(5, 10), (9, 10)]  # exact fractions q = 0.5, 0.9
_Q_VALUES = ", ".join(f"({n}, {d})" for n, d in _PINBALL_QS)

_PINBALL_ORACLE = f"""
WITH daily AS (
    SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS y
    FROM events GROUP BY 1, 2
),
fc AS (
    SELECT event_type, day, y,
           lag(y, 7) OVER (PARTITION BY event_type ORDER BY day) AS f
    FROM daily
),
qs(qn, qd) AS (VALUES {_Q_VALUES}),
losses AS (
    SELECT event_type, qn, qd,
           CASE WHEN y >= f THEN qn * (y - f)
                ELSE (qd - qn) * (f - y) END AS l
    FROM fc CROSS JOIN qs WHERE f IS NOT NULL
)
SELECT event_type,
       floor(CAST(qn AS DOUBLE) / qd * 10 + 0.5) / 10 AS q,
       floor(CAST(SUM(l) AS DOUBLE) / qd / COUNT(*) * 1e4 + 0.5) / 1e4
           AS mean_pinball
FROM losses GROUP BY event_type, qn, qd
"""


@query("ml_pinball_forecast_eval", _PINBALL_ORACLE)
def ml_pinball_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss of the lag-7 seasonal-naive forecast at
    q=0.5 and q=0.9 — the scoring rule for quantile forecasts
    (capacity planning cares about the q=0.9 band, not the mean), and
    the baseline any learned forecaster must beat before shipping
    (`events_forecast_seasonal_naive` reports MAE/sMAPE; pinball is
    what makes the QUANTILE claim falsifiable). Losses accumulate as
    exact integers by holding q as a fraction (qn/qd) and scaling the
    loss by qd — the division happens once at output. One keyed lag
    window over the day rollup, a bounded 2x quantile explode, one
    aggregate.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    w = Window.partitionBy("event_type").orderBy("day")
    fc = daily.withColumn("f", F.lag("y", 7).over(w)).where(
        F.col("f").isNotNull()
    )
    qs = spark.createDataFrame(_PINBALL_QS, "qn long, qd long")
    losses = fc.join(F.broadcast(qs)).select(
        "event_type",
        "qn",
        "qd",
        F.when(
            F.col("y") >= F.col("f"), F.col("qn") * (F.col("y") - F.col("f"))
        )
        .otherwise((F.col("qd") - F.col("qn")) * (F.col("f") - F.col("y")))
        .alias("l"),
    )
    return losses.groupBy("event_type", "qn", "qd").agg(
        (
            F.floor(
                F.sum("l").cast("double")
                / F.max("qd")
                / F.count(F.lit(1))
                * 1e4
                + F.lit(0.5)
            )
            / 1e4
        ).alias("raw")
    ).select(
        "event_type",
        (F.floor(F.col("qn").cast("double") / F.col("qd") * 10 + F.lit(0.5)) / 10).alias("q"),
        F.col("raw").alias("mean_pinball"),
    )
