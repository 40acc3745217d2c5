"""Alerting / diagnostics tier: Croston's intermittent-demand
forecast (the sparse-series method), the Breusch-Pagan
heteroscedasticity test (does the regression family's variance
assumption hold), and threshold alerting with hysteresis (the
two-threshold debounce real pagers use).

Scale notes baked into each builder:
- Croston never iterates its two EWMAs: both the demand-size and
  inter-arrival smoothers unroll to closed-form weighted sums
  (α(1−α)^(k−j), the `events_ewma_fold` identity) over each part's
  non-zero demand sequence — one part-keyed window for occurrence
  indexing, one aggregate for the weighted sums;
- Breusch-Pagan reuses the OLS coefficients (one exact co-moment
  pass, broadcast back — the `ml_linear_shap_local` shape) and then
  accumulates residual-square co-moments in a second conditional
  pass over the SAME scan subtree; LM = n·R² and the χ²(1) tail
  evaluates via the shared Zelen-Severo normal approximation
  (`plans/screening_ops`) — both engines run the identical formula;
- hysteresis alerting is latched state, not a per-row threshold:
  crossings above hi / below lo emit 1/0 events and the alert state
  is last-ignore-nulls over the day order (the
  `events_attribution_last_touch` window trick), so flapping between
  the bands never re-pages. Threshold compares are integer
  cross-multiplied — no float boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.det import r6
from ..registry import query
from ..sources import read_table
from .sql_common import _p_two_sided


# ---------------------------------------------------------------------------
# events_forecast_croston — intermittent-demand forecasting
# ---------------------------------------------------------------------------

_ALPHA_N, _ALPHA_D = 2, 10  # alpha = 0.2 as an exact fraction

_CROSTON_ORACLE = f"""
WITH daily AS (
    SELECT l_partkey,
           CAST(date_diff('day', TIMESTAMP '1995-01-01',
                          date_trunc('day', l_shipdate)) AS BIGINT) AS d,
           SUM(CAST(l_quantity AS BIGINT)) AS q
    FROM lineitem GROUP BY 1, 2
),
seq AS (
    SELECT l_partkey, d, q,
           ROW_NUMBER() OVER w AS k,
           COUNT(*) OVER (PARTITION BY l_partkey) AS m,
           d - COALESCE(lag(d) OVER w, 0) AS gap
    FROM daily
    WINDOW w AS (PARTITION BY l_partkey ORDER BY d)
),
smooth AS (
    SELECT l_partkey, MAX(m) AS n_demands,
           SUM(q * pow(1 - {_ALPHA_N}/10.0, m - k)) * ({_ALPHA_N}/10.0)
             + MAX(CASE WHEN k = 1 THEN q END)
               * pow(1 - {_ALPHA_N}/10.0, MAX(m)) AS z_hat,
           SUM(gap * pow(1 - {_ALPHA_N}/10.0, m - k)) * ({_ALPHA_N}/10.0)
             + MAX(CASE WHEN k = 1 THEN gap END)
               * pow(1 - {_ALPHA_N}/10.0, MAX(m)) AS p_hat
    FROM seq GROUP BY l_partkey
)
SELECT l_partkey, n_demands,
       floor(z_hat * 1e4 + 0.5) / 1e4 AS size_hat,
       floor(p_hat * 1e4 + 0.5) / 1e4 AS interval_hat,
       floor(z_hat / p_hat * 1e6 + 0.5) / 1e6 AS demand_rate
FROM smooth WHERE n_demands >= 5
"""


@query("events_forecast_croston", _CROSTON_ORACLE)
def events_forecast_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method for intermittent demand: per part, exponential
    smoothing of the non-zero demand SIZES and of the inter-demand
    INTERVALS separately, forecast rate = size/interval — the standard
    answer for sparse series where plain EWMA decays toward zero
    between demands and seasonal-naive finds no season (most SKUs, at
    any retailer, most days sell nothing). Neither smoother iterates:
    EWMA with seed = first observation unrolls to the closed-form
    weighted sum Σ x_j·α(1−α)^(m−j) + x_1(1−α)^m (the
    `events_ewma_fold` identity), so the whole fit is one part-keyed
    window (occurrence index + lag gap) and one aggregate. Demands
    collapse to (part, day) grain first; parts with <5 demand events
    are excluded (no stable fit). α is held as the exact fraction
    2/10 in both engines.
    """
    li = read_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_partkey",
        F.expr(
            "CAST(datediff(date_trunc('day', l_shipdate),"
            " timestamp'1995-01-01') AS BIGINT)"
        ).alias("d"),
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("q"))
    w = Window.partitionBy("l_partkey").orderBy("d")
    seq = daily.select(
        "l_partkey",
        "d",
        "q",
        F.row_number().over(w).alias("k"),
        F.count(F.lit(1)).over(Window.partitionBy("l_partkey")).alias("m"),
        (F.col("d") - F.coalesce(F.lag("d").over(w), F.lit(0))).alias("gap"),
    )
    alpha = _ALPHA_N / 10.0
    decay = F.pow(F.lit(1 - alpha), F.col("m") - F.col("k"))

    def ewma(col):
        return F.sum(F.col(col) * decay) * alpha + F.max(
            F.when(F.col("k") == 1, F.col(col))
        ) * F.pow(F.lit(1 - alpha), F.max("m"))

    smooth = seq.groupBy("l_partkey").agg(
        F.max("m").alias("n_demands"),
        ewma("q").alias("z_hat"),
        ewma("gap").alias("p_hat"),
    )
    return smooth.where(F.col("n_demands") >= 5).select(
        "l_partkey",
        "n_demands",
        (F.floor(F.col("z_hat") * 1e4 + F.lit(0.5)) / 1e4).alias("size_hat"),
        (F.floor(F.col("p_hat") * 1e4 + F.lit(0.5)) / 1e4).alias(
            "interval_hat"
        ),
        r6(F.col("z_hat") / F.col("p_hat")).alias("demand_rate"),
    )


# ---------------------------------------------------------------------------
# stats_breusch_pagan — is the regression's variance assumption broken
# ---------------------------------------------------------------------------

_BP_ORACLE = f"""
WITH pts AS (
    SELECT CAST(l_quantity AS BIGINT) AS x,
           CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
    FROM lineitem
),
m AS (
    SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
           SUM(CAST(x AS HUGEINT) * x) AS sxx,
           SUM(CAST(x AS HUGEINT) * y) AS sxy
    FROM pts
),
coef AS (
    SELECT n,
           (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS b,
           (CAST(sy AS DOUBLE)
            - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
              / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * sx)
           / n AS a
    FROM m
),
res AS (
    SELECT p.x, (p.y - c.a - c.b * p.x) / 100 AS e
    FROM pts p CROSS JOIN coef c
),
aux AS (
    SELECT COUNT(*) AS n, SUM(CAST(x AS DOUBLE)) AS sx,
           SUM(CAST(x AS DOUBLE) * x) AS sxx,
           SUM(e * e) AS se2, SUM(CAST(x AS DOUBLE) * e * e) AS sxe2,
           SUM(e * e * e * e) AS se4
    FROM res
),
r2 AS (
    SELECT n,
           pow(n * sxe2 - sx * se2, 2)
           / ((n * sxx - sx * sx) * (n * se4 - se2 * se2)) AS r2
    FROM aux
)
SELECT n,
       floor(n * r2 * 1e4 + 0.5) / 1e4 AS lm_stat,
       floor({_p_two_sided('sqrt(n * r2)')} / 2 * 1e6 + 0.5) / 1e6
           AS p_value,
       n * r2 > 3.841 AS heteroscedastic
FROM r2
"""


@query("stats_breusch_pagan", _BP_ORACLE)
def stats_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan heteroscedasticity test on the price~quantity
    regression: does residual VARIANCE grow with the regressor — the
    diagnostic that decides whether `ml_ols_normal_equation`-family
    standard errors can be trusted (larger orders almost always have
    noisier prices; ignoring it understates uncertainty exactly where
    the money is). Coefficients come from one exact co-moment pass;
    the single coefficient row broadcasts back and a second pass over
    the same scan accumulates (x, e²) co-moments; LM = n·R² of the
    e²~x auxiliary fit, and the χ²(1) tail is evaluated as
    2·P(Z>√LM)/2 via the shared Zelen-Severo approximation — the
    identical double formula on both engines. The 3.841 cut is the
    χ²(1) 95% critical value.
    """
    li = read_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("y"),
    )
    dec = "decimal(38,0)"
    m = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    b = (nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy")) / (
        nd * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx")
    )
    a = (F.col("sy").cast("double") - b * F.col("sx")) / nd
    coef = m.select(a.alias("a"), b.alias("b"))
    res = pts.join(F.broadcast(coef)).select(
        "x",
        ((F.col("y") - F.col("a") - F.col("b") * F.col("x")) / 100).alias("e"),
    )
    aux = res.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("double")).alias("sx"),
        F.sum(F.col("x").cast("double") * F.col("x")).alias("sxx"),
        F.sum(F.col("e") * F.col("e")).alias("se2"),
        F.sum(F.col("x").cast("double") * F.col("e") * F.col("e")).alias(
            "sxe2"
        ),
        F.sum(F.col("e") * F.col("e") * F.col("e") * F.col("e")).alias("se4"),
    )
    n2 = F.col("n").cast("double")
    r2 = F.pow(n2 * F.col("sxe2") - F.col("sx") * F.col("se2"), 2) / (
        (n2 * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n2 * F.col("se4") - F.col("se2") * F.col("se2"))
    )
    staged = aux.select("n", (n2 * r2).alias("lm_raw"))
    return staged.select(
        "n",
        (F.floor(F.col("lm_raw") * 1e4 + F.lit(0.5)) / 1e4).alias("lm_stat"),
        r6(F.expr(_p_two_sided("sqrt(lm_raw)")) / 2).alias("p_value"),
        (F.col("lm_raw") > 3.841).alias("heteroscedastic"),
    )


# ---------------------------------------------------------------------------
# events_alert_hysteresis — latched two-threshold alerting
# ---------------------------------------------------------------------------

_HYST_ORACLE = """
WITH daily AS (
    SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
    FROM events GROUP BY 1, 2
),
stats AS (
    SELECT event_type, day, x,
           COUNT(*) OVER (PARTITION BY event_type) AS nd,
           SUM(x) OVER (PARTITION BY event_type) AS t
    FROM daily
),
crossings AS (
    SELECT event_type, day, x,
           CASE WHEN 10 * x * nd > 12 * t THEN 1
                WHEN 10 * x * nd < 8 * t THEN 0
                ELSE NULL END AS crossing
    FROM stats
),
latched AS (
    SELECT event_type, day, x, crossing,
           COALESCE(last_value(crossing IGNORE NULLS) OVER
               (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
               AS alert
    FROM crossings
),
flagged AS (
    SELECT event_type, day, alert,
           CASE WHEN alert <> COALESCE(lag(alert) OVER
               (PARTITION BY event_type ORDER BY day), 0)
                THEN 1 ELSE 0 END AS transition
    FROM latched
)
SELECT event_type,
       SUM(alert) AS alert_days,
       SUM(transition) AS transitions
FROM flagged GROUP BY 1
"""


@query("events_alert_hysteresis", _HYST_ORACLE)
def events_alert_hysteresis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-threshold (hysteresis) alerting: the alert latches ON when
    daily revenue crosses 120% of the type's mean and only clears
    below 80% — the debounce every real pager uses, because a single
    threshold flaps (and re-pages) on every noise crossing. Latched
    state is NOT a per-row comparison: crossings emit 1/0/null and
    the state is last-ignore-nulls over day order (the keyed-window
    latch from `events_attribution_last_touch`), so days between the
    bands inherit the prior state. Threshold compares are integer
    cross-multiplied (10·x·n vs 12·T) — no float mean at the decision
    boundary. Output per type: alert-day count and transition count
    (pages actually sent). One day-grain rollup, three keyed windows.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
            "x"
        )
    )
    per_type = Window.partitionBy("event_type")
    stats = daily.select(
        "event_type",
        "day",
        "x",
        F.count(F.lit(1)).over(per_type).alias("nd"),
        F.sum("x").over(per_type).alias("t"),
    )
    crossing = (
        F.when(10 * F.col("x") * F.col("nd") > 12 * F.col("t"), 1)
        .when(10 * F.col("x") * F.col("nd") < 8 * F.col("t"), 0)
        .otherwise(F.lit(None))
    )
    worder = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    latched = stats.select(
        "event_type", "day", crossing.alias("crossing")
    ).withColumn(
        "alert",
        F.coalesce(
            F.last("crossing", ignorenulls=True).over(worder), F.lit(0)
        ),
    )
    wlag = Window.partitionBy("event_type").orderBy("day")
    flagged = latched.withColumn(
        "transition",
        F.when(
            F.col("alert")
            != F.coalesce(F.lag("alert").over(wlag), F.lit(0)),
            1,
        ).otherwise(0),
    )
    return flagged.groupBy("event_type").agg(
        F.sum("alert").alias("alert_days"),
        F.sum("transition").alias("transitions"),
    )
