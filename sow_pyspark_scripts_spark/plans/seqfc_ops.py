"""Sequence-forecast diagnostics tier: Brown double exponential
smoothing (level + trend from TWO nested EWMAs — the trend-aware
upgrade of `events_ewma_fold`, unrolled to closed-form weighted sums
so no sequential recurrence survives into the plan), Durbin-Levinson
partial autocorrelations (the AR-order selector that
`events_periodicity_autocorr`'s raw ACF cannot be — ACF of an AR(1)
decays forever, PACF cuts off at the true order), Theil's U2 (is the
seasonal-naive forecast actually better than last-value naive, as a
ratio both engines compute on EXACT integer squared errors), and a
lag-1 Granger test (does yesterday's click count explain today's
purchases beyond purchase history alone — the F-test gate before
anyone ships a "leading indicator" dashboard).

Scale notes baked into each builder:
- Brown's smoothing runs as two calendar-bounded pair joins over the
  DAY rollup (days² pairs — 900 here, 13M at ten years, independent
  of fact cardinality). alpha = 0.5 makes every weight an exact
  dyadic 2^-k, so pow() is bit-identical across engines; each
  weighted term is floor-quantized to micro-units BIGINT before
  summation, making both EWMA levels order-free integer sums;
- PACF needs ONE aggregate over the day rollup with three lag
  columns: all raw co-moments stay exact BIGINTs, the n²-scaled
  autocovariances are exact DECIMAL/HUGEINT arithmetic, and the
  Durbin-Levinson recursion is closed-form scalar math on the 1-row
  result;
- Theil's U2 is exact integer squared-error sums end to end — one
  double division and one sqrt at the very end;
- Granger's restricted and unrestricted OLS both come from one
  co-moment aggregate (centered sums as exact products of BIGINTs,
  all < 2^53 so the double arithmetic is itself exact), then Cramer
  solves the 2x2 system per engine identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.det import quant, r6
from ..registry import query
from ..sources import read_table


# ---------------------------------------------------------------------------
# events_brown_double_smoothing — closed-form level+trend EWMA
# ---------------------------------------------------------------------------

_BROWN_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, COUNT(*) AS y FROM events GROUP BY 1
),
idx AS (
    SELECT day, y, row_number() OVER (ORDER BY day) AS t FROM daily
),
s1 AS (
    SELECT a.t, a.day, a.y,
           SUM(CAST(floor(
               CASE WHEN b.t = 1 THEN pow(0.5, a.t - 1)
                    ELSE 0.5 * pow(0.5, a.t - b.t) END * b.y * 1e6 + 0.5)
               AS BIGINT)) AS s1q
    FROM idx a JOIN idx b ON b.t <= a.t
    GROUP BY a.t, a.day, a.y
),
s2 AS (
    SELECT a.t, a.day, a.y, a.s1q,
           SUM(CAST(floor(
               CASE WHEN b.t = 1 THEN pow(0.5, a.t - 1)
                    ELSE 0.5 * pow(0.5, a.t - b.t) END * b.s1q + 0.5)
               AS BIGINT)) AS s2q
    FROM s1 a JOIN s1 b ON b.t <= a.t
    GROUP BY a.t, a.day, a.y, a.s1q
)
SELECT strftime(day, '%Y-%m-%d') AS day, y,
       floor(s1q / 1e6 * 1e6 + 0.5) / 1e6 AS s1,
       floor(s2q / 1e6 * 1e6 + 0.5) / 1e6 AS s2,
       floor((2.0 * s1q - s2q) / 1e6 * 1e6 + 0.5) / 1e6 AS level,
       floor((CAST(s1q AS DOUBLE) - s2q) / 1e6 * 1e6 + 0.5) / 1e6 AS trend,
       floor((3.0 * s1q - 2.0 * s2q) / 1e6 * 1e6 + 0.5) / 1e6 AS forecast_next
FROM s2
"""


@query("events_brown_double_smoothing", _BROWN_ORACLE)
def events_brown_double_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown double exponential smoothing of the daily event count:
    S1 = EWMA(y), S2 = EWMA(S1), level = 2·S1 − S2, trend =
    α/(1−α)·(S1 − S2), one-step forecast = level + trend — the
    trend-aware forecaster that `events_ewma_fold`'s single EWMA is
    not (a single EWMA lags a trending series by a constant offset
    forever; Brown's second smoothing estimates and cancels that
    lag). Both recurrences are unrolled to closed-form weighted sums
    over the CALENDAR-BOUNDED day rollup — two pair joins of days²
    rows, a size set by the date range, not the fact table, so the
    plan is identical at 100 TB. α = 0.5 is chosen so every weight
    is an exact dyadic 2^-k (pow of a power of two is exact IEEE in
    any engine); each term quantizes to micro-unit BIGINT before its
    sum, so S1 and S2 are order-free integer aggregates, and S2
    consumes the QUANTIZED S1 so the second stage sees bit-identical
    inputs in both engines. With α/(1−α) = 1, trend = S1 − S2 and
    forecast = 3·S1 − 2·S2 exactly.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("y")
    )
    idx = daily.select(
        "day", "y", F.row_number().over(Window.orderBy("day")).alias("t")
    )
    a = idx.select(
        F.col("t").alias("t"), F.col("day").alias("day"), F.col("y").alias("y")
    )
    b = idx.select(F.col("t").alias("bt"), F.col("y").alias("by"))
    w1 = F.when(
        F.col("bt") == 1, F.pow(F.lit(0.5), F.col("t") - 1)
    ).otherwise(F.lit(0.5) * F.pow(F.lit(0.5), F.col("t") - F.col("bt")))
    s1 = (
        a.join(b, F.col("bt") <= F.col("t"))
        .groupBy("t", "day", "y")
        .agg(
            F.sum(
                quant(w1 * F.col("by")).cast("long")
            ).alias("s1q")
        )
    )
    sa = s1.select("t", "day", "y", "s1q")
    sb = s1.select(F.col("t").alias("bt"), F.col("s1q").alias("bs1q"))
    w2 = F.when(
        F.col("bt") == 1, F.pow(F.lit(0.5), F.col("t") - 1)
    ).otherwise(F.lit(0.5) * F.pow(F.lit(0.5), F.col("t") - F.col("bt")))
    s2 = (
        sa.join(sb, F.col("bt") <= F.col("t"))
        .groupBy("t", "day", "y", "s1q")
        .agg(
            F.sum(
                F.floor(w2 * F.col("bs1q") + F.lit(0.5)).cast("long")
            ).alias("s2q")
        )
    )
    return s2.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "y",
        r6(F.col("s1q") / 1e6).alias("s1"),
        r6(F.col("s2q") / 1e6).alias("s2"),
        r6((2.0 * F.col("s1q") - F.col("s2q")) / 1e6).alias("level"),
        r6(
            (F.col("s1q").cast("double") - F.col("s2q")) / 1e6
        ).alias("trend"),
        r6(
            (3.0 * F.col("s1q") - 2.0 * F.col("s2q")) / 1e6
        ).alias("forecast_next"),
    )


# ---------------------------------------------------------------------------
# stats_pacf_durbin_levinson — partial autocorrelation, lags 1..3
# ---------------------------------------------------------------------------

_PACF_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, COUNT(*) AS y FROM events GROUP BY 1
),
lagged AS (
    SELECT y,
           lag(y, 1) OVER (ORDER BY day) AS l1,
           lag(y, 2) OVER (ORDER BY day) AS l2,
           lag(y, 3) OVER (ORDER BY day) AS l3
    FROM daily
),
m AS (
    SELECT COUNT(*) AS n, SUM(y) AS sy, SUM(CAST(y AS HUGEINT) * y) AS syy,
           SUM(CAST(y AS HUGEINT) * l1) AS sp1,
           SUM(CASE WHEN l1 IS NOT NULL THEN y END) AS sh1, SUM(l1) AS st1,
           SUM(CAST(y AS HUGEINT) * l2) AS sp2,
           SUM(CASE WHEN l2 IS NOT NULL THEN y END) AS sh2, SUM(l2) AS st2,
           SUM(CAST(y AS HUGEINT) * l3) AS sp3,
           SUM(CASE WHEN l3 IS NOT NULL THEN y END) AS sh3, SUM(l3) AS st3
    FROM lagged
),
r AS (
    SELECT n,
           CAST(CAST(n AS HUGEINT) * n * sp1 - CAST(n AS HUGEINT) * sy * (sh1 + st1)
                + CAST(n - 1 AS HUGEINT) * sy * sy AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * n * syy
                      - CAST(n AS HUGEINT) * sy * sy AS DOUBLE) AS r1,
           CAST(CAST(n AS HUGEINT) * n * sp2 - CAST(n AS HUGEINT) * sy * (sh2 + st2)
                + CAST(n - 2 AS HUGEINT) * sy * sy AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * n * syy
                      - CAST(n AS HUGEINT) * sy * sy AS DOUBLE) AS r2,
           CAST(CAST(n AS HUGEINT) * n * sp3 - CAST(n AS HUGEINT) * sy * (sh3 + st3)
                + CAST(n - 3 AS HUGEINT) * sy * sy AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * n * syy
                      - CAST(n AS HUGEINT) * sy * sy AS DOUBLE) AS r3
    FROM m
),
dl AS (
    SELECT n, r1, r2, r3,
           (r2 - r1 * r1) / (1 - r1 * r1) AS p2
    FROM r
),
dl2 AS (
    SELECT n, r1, r2, r3, p2,
           (r3 - r1 * (1 - p2) * r2 - p2 * r1)
               / (1 - r1 * (1 - p2) * r1 - p2 * r2) AS p3
    FROM dl
)
SELECT lag_k, n,
       floor(CASE lag_k WHEN 1 THEN r1 WHEN 2 THEN r2 ELSE r3 END
             * 1e6 + 0.5) / 1e6 AS acf,
       floor(CASE lag_k WHEN 1 THEN r1 WHEN 2 THEN p2 ELSE p3 END
             * 1e6 + 0.5) / 1e6 AS pacf
FROM dl2, (SELECT unnest([1, 2, 3]) AS lag_k)
ORDER BY lag_k
"""


@query("stats_pacf_durbin_levinson", _PACF_ORACLE)
def stats_pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of the daily event count at lags 1..3
    via the Durbin-Levinson recursion — the AR-order diagnostic:
    an AR(p) series' PACF is zero past lag p while its raw ACF
    (`events_periodicity_autocorr`) decays geometrically forever, so
    PACF, not ACF, answers "how many lag features does the forecast
    model actually need". Uses the stationary convention (common mean
    and common variance denominator): each autocovariance is an
    n²-scaled EXACT integer — n²·Σy_t·y_{t-k} − n·Sy·(head+tail
    sums) + (n−k)·Sy² as DECIMAL/HUGEINT — so r1, r2, r3 are single
    divisions of identical integers in both engines, and the
    recursion (φ11 = r1; φ22 = (r2−r1²)/(1−r1²); φ33 from the
    order-2 coefficients) is closed-form scalar math on the 1-row
    moment result. ONE aggregate over the calendar-bounded day
    rollup computes all three lag co-moments (three lag windows,
    one pass); the 3-row output unpivots the scalar.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("y")
    )
    wd = Window.orderBy("day")
    lagged = daily.select(
        "y",
        F.lag("y", 1).over(wd).alias("l1"),
        F.lag("y", 2).over(wd).alias("l2"),
        F.lag("y", 3).over(wd).alias("l3"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    ]
    for k in (1, 2, 3):
        aggs += [
            F.sum(
                F.col("y").cast("decimal(38,0)") * F.col(f"l{k}")
            ).alias(f"sp{k}"),
            F.sum(
                F.when(F.col(f"l{k}").isNotNull(), F.col("y"))
            ).alias(f"sh{k}"),
            F.sum(f"l{k}").alias(f"st{k}"),
        ]
    m = lagged.agg(*aggs)
    nD = dec("n")
    den = (nD * nD * dec("syy") - nD * dec("sy") * dec("sy")).cast("double")
    rs = m.select(
        "n",
        *[
            (
                (
                    nD * nD * dec(f"sp{k}")
                    - nD * dec("sy") * (dec(f"sh{k}") + dec(f"st{k}"))
                    + (nD - k) * dec("sy") * dec("sy")
                ).cast("double")
                / den
            ).alias(f"r{k}")
            for k in (1, 2, 3)
        ],
    )
    p2 = (F.col("r2") - F.col("r1") * F.col("r1")) / (
        1 - F.col("r1") * F.col("r1")
    )
    dl = rs.select("n", "r1", "r2", "r3", p2.alias("p2"))
    phi21 = F.col("r1") * (1 - F.col("p2"))
    p3 = (F.col("r3") - phi21 * F.col("r2") - F.col("p2") * F.col("r1")) / (
        1 - phi21 * F.col("r1") - F.col("p2") * F.col("r2")
    )
    dl2 = dl.select("n", "r1", "r2", "r3", "p2", p3.alias("p3"))
    return dl2.select(
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("lag_k"),
        "n",
        "r1",
        "r2",
        "r3",
        "p2",
        "p3",
    ).select(
        "lag_k",
        "n",
        r6(
            F.when(F.col("lag_k") == 1, F.col("r1"))
            .when(F.col("lag_k") == 2, F.col("r2"))
            .otherwise(F.col("r3"))
        ).alias("acf"),
        r6(
            F.when(F.col("lag_k") == 1, F.col("r1"))
            .when(F.col("lag_k") == 2, F.col("p2"))
            .otherwise(F.col("p3"))
        ).alias("pacf"),
    ).orderBy("lag_k")


# ---------------------------------------------------------------------------
# stats_theil_u2_forecast — seasonal-naive vs last-value naive, exact
# ---------------------------------------------------------------------------

_THEIL_U2_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, COUNT(*) AS y FROM events GROUP BY 1
),
lagged AS (
    SELECT y,
           lag(y, 1) OVER (ORDER BY day) AS l1,
           lag(y, 7) OVER (ORDER BY day) AS l7
    FROM daily
),
e AS (
    SELECT COUNT(*) AS n_eval,
           SUM(CAST(y - l7 AS BIGINT) * (y - l7)) AS sse_seasonal,
           SUM(CAST(y - l1 AS BIGINT) * (y - l1)) AS sse_naive
    FROM lagged WHERE l7 IS NOT NULL AND l1 IS NOT NULL
)
SELECT n_eval, sse_seasonal, sse_naive,
       floor(sqrt(CAST(sse_seasonal AS DOUBLE) / sse_naive) * 1e6 + 0.5) / 1e6
           AS theil_u2,
       sse_seasonal < sse_naive AS seasonal_wins
FROM e
"""


@query("stats_theil_u2_forecast", _THEIL_U2_ORACLE)
def stats_theil_u2_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's U2 for the seasonal-naive daily forecast: the ratio of
    its root squared error to the LAST-VALUE naive's on the same
    evaluation window — the sanity gate every forecast eval needs,
    because `events_forecast_seasonal_naive`'s MAE means nothing in
    isolation (U2 < 1 = the model earns its keep; U2 >= 1 = a
    one-line lag would do better and the model should not ship).
    Both error sums are EXACT BIGINTs — integer daily counts, integer
    lag differences, integer squares — restricted to days where both
    forecasts exist so the comparison is paired; the only floating
    operations are the final division and sqrt, applied to identical
    integers in both engines. One pass over the calendar-bounded day
    rollup with two lag windows.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("y")
    )
    wd = Window.orderBy("day")
    lagged = daily.select(
        "y",
        F.lag("y", 1).over(wd).alias("l1"),
        F.lag("y", 7).over(wd).alias("l7"),
    ).where(F.col("l1").isNotNull() & F.col("l7").isNotNull())
    d7 = (F.col("y") - F.col("l7")).cast("long")
    d1 = (F.col("y") - F.col("l1")).cast("long")
    e = lagged.agg(
        F.count(F.lit(1)).alias("n_eval"),
        F.sum(d7 * d7).alias("sse_seasonal"),
        F.sum(d1 * d1).alias("sse_naive"),
    )
    return e.select(
        "n_eval",
        "sse_seasonal",
        "sse_naive",
        r6(
            F.sqrt(F.col("sse_seasonal").cast("double") / F.col("sse_naive"))
        ).alias("theil_u2"),
        (F.col("sse_seasonal") < F.col("sse_naive")).alias("seasonal_wins"),
    )


# ---------------------------------------------------------------------------
# stats_granger_lag1 — do clicks lead purchases?
# ---------------------------------------------------------------------------

_GRANGER_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS py,
           SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS cx
    FROM events GROUP BY 1
),
lagged AS (
    SELECT py AS y,
           lag(py, 1) OVER (ORDER BY day) AS y1,
           lag(cx, 1) OVER (ORDER BY day) AS x1
    FROM daily
),
m AS (
    SELECT COUNT(*) AS n, SUM(y) AS sy, SUM(y1) AS sy1, SUM(x1) AS sx1,
           SUM(CAST(y AS BIGINT) * y) AS syy,
           SUM(CAST(y AS BIGINT) * y1) AS syl,
           SUM(CAST(y AS BIGINT) * x1) AS syx,
           SUM(CAST(y1 AS BIGINT) * y1) AS s11,
           SUM(CAST(x1 AS BIGINT) * x1) AS s22,
           SUM(CAST(y1 AS BIGINT) * x1) AS s12
    FROM lagged WHERE y1 IS NOT NULL
),
c AS (
    SELECT n,
           CAST(n * s11 - sy1 * sy1 AS DOUBLE) AS c11,
           CAST(n * s22 - sx1 * sx1 AS DOUBLE) AS c22,
           CAST(n * s12 - sy1 * sx1 AS DOUBLE) AS c12,
           CAST(n * syl - sy * sy1 AS DOUBLE) AS c1y,
           CAST(n * syx - sy * sx1 AS DOUBLE) AS c2y,
           CAST(n * syy - sy * sy AS DOUBLE) AS cyy
    FROM m
),
fit AS (
    SELECT n, cyy,
           cyy - c1y * c1y / c11 AS sse_r_n,
           cyy - ((c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12)) * c1y
               - ((c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12)) * c2y
               AS sse_u_n
    FROM c
)
SELECT n,
       floor((sse_r_n - sse_u_n) / (sse_u_n / (n - 3)) * 1e6 + 0.5) / 1e6
           AS f_stat,
       floor((sse_r_n - sse_u_n) / sse_r_n * 1e6 + 0.5) / 1e6 AS delta_r2,
       (sse_r_n - sse_u_n) / (sse_u_n / (n - 3)) > 4.0 AS granger_causal
FROM fit
"""


@query("stats_granger_lag1", _GRANGER_ORACLE)
def stats_granger_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 Granger causality: does yesterday's CLICK count explain
    today's PURCHASE count beyond yesterday's purchases alone? F-test
    between the restricted AR(1) fit (y_t ~ y_{t-1}) and the
    unrestricted fit (y_t ~ y_{t-1} + x_{t-1}) — the statistical
    gate between "these series look correlated"
    (`agg_corr_regression`) and "this one LEADS that one", which is
    the claim a leading-indicator alert actually makes. Both model
    fits come from ONE co-moment aggregate over the day rollup: raw
    sums are exact BIGINTs; centered co-moments n·Σab − Σa·Σb are
    products of exact integers below 2^53, so even the double
    arithmetic is exact; the unrestricted coefficients come from the
    closed-form 2x2 Cramer solve (same discipline as
    `ml_ols_normal_equation`) and both SSEs expand algebraically —
    no residual pass. The flag uses a conservative fixed F(1, n-3)
    critical value of 4.0 (the exact 5% point is 3.84 as n grows;
    the docstring, not the engine, owns that nuance).
    """
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("py"),
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("cx"),
    )
    wd = Window.orderBy("day")
    lagged = daily.select(
        F.col("py").alias("y"),
        F.lag("py", 1).over(wd).alias("y1"),
        F.lag("cx", 1).over(wd).alias("x1"),
    ).where(F.col("y1").isNotNull())
    lng = lambda c: F.col(c).cast("long")  # noqa: E731
    m = lagged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum("y1").alias("sy1"),
        F.sum("x1").alias("sx1"),
        F.sum(lng("y") * F.col("y")).alias("syy"),
        F.sum(lng("y") * F.col("y1")).alias("syl"),
        F.sum(lng("y") * F.col("x1")).alias("syx"),
        F.sum(lng("y1") * F.col("y1")).alias("s11"),
        F.sum(lng("x1") * F.col("x1")).alias("s22"),
        F.sum(lng("y1") * F.col("x1")).alias("s12"),
    )
    n = F.col("n")
    c11 = (n * F.col("s11") - F.col("sy1") * F.col("sy1")).cast("double")
    c22 = (n * F.col("s22") - F.col("sx1") * F.col("sx1")).cast("double")
    c12 = (n * F.col("s12") - F.col("sy1") * F.col("sx1")).cast("double")
    c1y = (n * F.col("syl") - F.col("sy") * F.col("sy1")).cast("double")
    c2y = (n * F.col("syx") - F.col("sy") * F.col("sx1")).cast("double")
    cyy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    det = c11 * c22 - c12 * c12
    b1 = (c1y * c22 - c2y * c12) / det
    b2 = (c2y * c11 - c1y * c12) / det
    fit = m.select(
        "n",
        (cyy - c1y * c1y / c11).alias("sse_r_n"),
        (cyy - b1 * c1y - b2 * c2y).alias("sse_u_n"),
    )
    f_stat = (F.col("sse_r_n") - F.col("sse_u_n")) / (
        F.col("sse_u_n") / (F.col("n") - 3)
    )
    return fit.select(
        "n",
        r6(f_stat).alias("f_stat"),
        r6(
            (F.col("sse_r_n") - F.col("sse_u_n")) / F.col("sse_r_n")
        ).alias("delta_r2"),
        (f_stat > 4.0).alias("granger_causal"),
    )
