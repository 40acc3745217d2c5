"""Fit-diagnostics / tail-risk / stylometry / density tier: Durbin-
Watson (is the trend model's error serially correlated — the residual
check `stats_breusch_pagan` does for variance, done for
autocorrelation), Cook's distance + leverage (WHICH days bend the
trend line), historical VaR/CVaR (how bad do day-over-day revenue
swings get, beyond the variance), Burrows' Delta (stylometric distance
between corpus sources — the classic authorship/provenance screen),
and a DBSCAN core/border/noise census (density structure of a point
cloud without choosing k — the clustering `ml_kmeans_lloyd` cannot
give when clusters aren't convex).

The reference ships rows to Elasticsearch and leaves model criticism
to the analyst (`sql_to_es_etl.py:93-95` show/count eyeballing);
this tier is the engine-side replacement for the model-audit loop.

Scale notes baked into each builder:
- DW and Cook's share one day-grain rollup; the OLS normal equations
  are exact BIGINT sums (the `ml_ols_normal_equation` discipline),
  the fitted scalars broadcast back, and residual diagnostics are one
  more pass over the calendar-bounded rollup (lag window for DW,
  closed-form leverage for Cook) — the fact shuffles once;
- VaR/CVaR order-statistics run on the day-delta rollup (bounded by
  the calendar), never on raw rows: the cut index k = ceil(0.05 n) is
  an integer rule and CVaR is an exact cents-fraction over the k
  tail values;
- Burrows' Delta bounds everything by construction: top-20 function
  words (broadcast), per-source rates over |sources| rows,
  z-normalization across the 20-row source axis, and the final
  source-pair matrix is |sources|^2/2 rows from a broadcast
  self-join;
- the DBSCAN census is the `join_spatial_grid` rewrite applied twice:
  neighbor counts via cell-bucketed equi-join with bounded 3x3
  replication (never a cross product — the oracle IS the cross
  product, runnable only at oracle scale), then border detection by
  joining non-core points to core cells the same way; coordinates
  and eps^2 are BIGINT end-to-end so the census is exact.
"""

from __future__ import annotations

from ..functions.det import r6
from ..functions.pin import pin as _pin_lazy, pin_eager as _pin_eager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import read_table


# ---------------------------------------------------------------------------
# ml_ols_durbin_watson — serial correlation of daily-trend residuals
# ---------------------------------------------------------------------------

_DW_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS y
    FROM events GROUP BY 1
),
tx AS (
    SELECT day, y,
           date_diff('day', (SELECT MIN(day) FROM daily), day) AS t
    FROM daily
),
m AS (
    SELECT COUNT(*) AS n, SUM(t) AS st, SUM(y) AS sy,
           SUM(t * t) AS stt, SUM(t * y) AS sty
    FROM tx
),
fit AS (
    SELECT n,
           (CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st) AS b,
           (CAST(sy AS DOUBLE)
             - (CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st) * st)
             / n AS a
    FROM m
),
e AS (
    SELECT tx.day, tx.y - fit.a - fit.b * tx.t AS e
    FROM tx, fit
),
d AS (
    SELECT e, e - lag(e) OVER (ORDER BY day) AS de FROM e
)
SELECT (SELECT n FROM fit) AS n_days,
       floor(SUM(de * de) / SUM(e * e) * 1e6 + 0.5) / 1e6 AS dw_stat
FROM d
"""


@query("ml_ols_durbin_watson", _DW_ORACLE)
def ml_ols_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic on the residuals of the daily-revenue
    linear trend: DW = sum (e_t - e_{t-1})^2 / sum e_t^2 in [0,4],
    ~2 under independence — the serial-correlation complement to
    `stats_breusch_pagan` (which checks the variance of the same kind
    of fit) and the reason `stats_ljung_box` exists for residual
    series: a trend model whose errors trail each other understates
    every standard error downstream. The fact collapses to day grain
    once; the OLS normal equations accumulate as exact BIGINT sums
    (n, St, Sy, Stt, Sty) in one aggregate; the fitted (a, b) scalars
    broadcast back onto the calendar-bounded rollup; and DW is one
    lag window + one aggregate over it. Residuals are double, but
    both engines evaluate the identical expression tree on identical
    integers, so the 1e-6-rounded statistic matches exactly.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
            "y"
        )
    )
    d0 = daily.agg(F.min("day").alias("d0"))
    tx = daily.join(F.broadcast(d0)).select(
        "day", "y", F.datediff(F.col("day"), F.col("d0")).alias("t")
    )
    m = tx.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("st"),
        F.sum("y").alias("sy"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
    )
    nd = F.col("n").cast("double")
    b = (nd * F.col("sty") - F.col("st").cast("double") * F.col("sy")) / (
        nd * F.col("stt") - F.col("st").cast("double") * F.col("st")
    )
    fit = m.select("n", b.alias("b"), ((F.col("sy").cast("double") - b * F.col("st")) / F.col("n")).alias("a"))
    e = tx.join(F.broadcast(fit)).select(
        "day",
        "n",
        (F.col("y") - F.col("a") - F.col("b") * F.col("t")).alias("e"),
    )
    w = Window.orderBy("day")
    d = e.select("n", "e", (F.col("e") - F.lag("e").over(w)).alias("de"))
    return d.groupBy("n").agg(
        r6(
            F.sum(F.col("de") * F.col("de")) / F.sum(F.col("e") * F.col("e"))
        ).alias("dw_stat")
    ).select(F.col("n").alias("n_days"), "dw_stat")


# ---------------------------------------------------------------------------
# ml_ols_cooks_distance — influence audit of the same daily trend
# ---------------------------------------------------------------------------

_COOK_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS y
    FROM events GROUP BY 1
),
tx AS (
    SELECT day, y,
           date_diff('day', (SELECT MIN(day) FROM daily), day) AS t
    FROM daily
),
m AS (
    SELECT COUNT(*) AS n, SUM(t) AS st, SUM(y) AS sy,
           SUM(t * t) AS stt, SUM(t * y) AS sty
    FROM tx
),
fit AS (
    SELECT n, st, stt,
           (CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st) AS b,
           (CAST(sy AS DOUBLE)
             - (CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st) * st)
             / n AS a
    FROM m
),
e AS (
    SELECT tx.day, fit.n,
           tx.y - fit.a - fit.b * tx.t AS e,
           1.0 / fit.n
             + (tx.t - CAST(fit.st AS DOUBLE) / fit.n)
               * (tx.t - CAST(fit.st AS DOUBLE) / fit.n)
               / (CAST(fit.stt AS DOUBLE) - CAST(fit.st AS DOUBLE) * fit.st / fit.n)
               AS h
    FROM tx, fit
),
s2 AS (SELECT SUM(e * e) / (MIN(n) - 2) AS s2 FROM e),
cook AS (
    SELECT e.day,
           floor(e.e * e.e * e.h / (s2.s2 * 2 * (1 - e.h) * (1 - e.h))
                 * 1e6 + 0.5) / 1e6 AS cook_d,
           floor(e.h * 1e6 + 0.5) / 1e6 AS leverage
    FROM e, s2
)
SELECT strftime(day, '%Y-%m-%d') AS day, cook_d, leverage
FROM cook ORDER BY cook_d DESC, day ASC LIMIT 5
"""


@query("ml_ols_cooks_distance", _COOK_ORACLE)
def ml_ols_cooks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cook's distance + leverage for every day of the daily-revenue
    trend fit, top-5 most influential — WHICH observations bend the
    line, the pointwise audit that the global diagnostics
    (`ml_ols_durbin_watson`, `stats_breusch_pagan`) cannot localize.
    Simple-regression closed forms do it without any matrix algebra:
    leverage h_t = 1/n + (t - tbar)^2/Stt, Cook D_t = e_t^2 h_t /
    (s^2 * p * (1-h_t)^2) with p = 2 fitted parameters. Shares the
    `ml_ols_durbin_watson` shape: one day-grain rollup, exact-integer
    normal equations, broadcast scalars, then pure per-row expressions
    — no second shuffle. The top-5 cut ranks 1e6-QUANTIZED distances
    (day tie-break) via TakeOrdered, stable against sub-quantum float
    drift.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
            "y"
        )
    )
    d0 = daily.agg(F.min("day").alias("d0"))
    tx = daily.join(F.broadcast(d0)).select(
        "day", "y", F.datediff(F.col("day"), F.col("d0")).alias("t")
    )
    m = tx.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("st"),
        F.sum("y").alias("sy"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
    )
    nd = F.col("n").cast("double")
    b = (nd * F.col("sty") - F.col("st").cast("double") * F.col("sy")) / (
        nd * F.col("stt") - F.col("st").cast("double") * F.col("st")
    )
    fit = m.select(
        "n",
        "st",
        "stt",
        b.alias("b"),
        ((F.col("sy").cast("double") - b * F.col("st")) / F.col("n")).alias(
            "a"
        ),
    )
    tbar = F.col("st").cast("double") / F.col("n")
    s_tt = F.col("stt").cast("double") - F.col("st").cast("double") * F.col(
        "st"
    ) / F.col("n")
    e = tx.join(F.broadcast(fit)).select(
        "day",
        "n",
        (F.col("y") - F.col("a") - F.col("b") * F.col("t")).alias("e"),
        (1.0 / F.col("n") + (F.col("t") - tbar) * (F.col("t") - tbar) / s_tt).alias(
            "h"
        ),
    )
    s2 = e.agg(
        (F.sum(F.col("e") * F.col("e")) / (F.min("n") - 2)).alias("s2")
    )
    cook = e.join(F.broadcast(s2)).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        r6(
            F.col("e")
            * F.col("e")
            * F.col("h")
            / (F.col("s2") * 2 * (1 - F.col("h")) * (1 - F.col("h")))
        ).alias("cook_d"),
        r6(F.col("h")).alias("leverage"),
    )
    return cook.orderBy(F.desc("cook_d"), F.asc("day")).limit(5)


# ---------------------------------------------------------------------------
# win_var_cvar — historical VaR / CVaR of day-over-day revenue swings
# ---------------------------------------------------------------------------

_VAR_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS r
    FROM events GROUP BY 1
),
delta AS (
    SELECT r - lag(r) OVER (ORDER BY day) AS d FROM daily
),
ranked AS (
    SELECT d, row_number() OVER (ORDER BY d ASC) AS rn,
           COUNT(*) OVER () AS n
    FROM delta WHERE d IS NOT NULL
),
k AS (SELECT MIN(n) AS n, (5 * MIN(n) + 99) // 100 AS k FROM ranked)
SELECT k.n AS n_deltas,
       MAX(CASE WHEN ranked.rn = k.k THEN ranked.d END) / 100.0 AS var_5pct,
       floor(SUM(CASE WHEN ranked.rn <= k.k THEN ranked.d ELSE 0 END)
             / CAST(k.k AS DOUBLE) / 100.0 * 1e6 + 0.5) / 1e6 AS cvar_5pct
FROM ranked, k
GROUP BY k.n, k.k
"""


@query("win_var_cvar", _VAR_ORACLE)
def win_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical 5% VaR and CVaR (expected shortfall) of day-over-day
    revenue changes — the tail-risk readout that `agg_stats_moments`'
    variance and even `stats_extreme_value_gumbel`'s block maxima
    don't give: the actual k-th worst observed swing and the mean of
    the k worst (the coherent-risk-measure fix for VaR's blindness
    past the quantile). The fact collapses to day grain, deltas come
    from one lag window over the calendar-bounded rollup, and the
    order statistics run on THAT rollup (never raw rows): the cut
    index k = ceil(0.05 n) is pure integer arithmetic, VaR is the
    value at rank k, and CVaR is the exact integer-cents sum of the k
    tail values over k — one rounded division at the end. Ranking ties
    are harmless: equal deltas are interchangeable, so the selected
    multiset is deterministic either way.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
            "r"
        )
    )
    wd = Window.orderBy("day")
    delta = daily.select((F.col("r") - F.lag("r").over(wd)).alias("d")).where(
        F.col("d").isNotNull()
    )
    wr = Window.orderBy("d")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = delta.select(
        "d",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    k = ranked.agg(
        F.min("n").alias("n_deltas"),
        ((5 * F.min("n") + 99) / 100).cast("long").alias("k"),
    )
    j = ranked.join(F.broadcast(k))
    return (
        j.groupBy("n_deltas", "k")
        .agg(
            (
                F.max(F.when(F.col("rn") == F.col("k"), F.col("d"))) / 100.0
            ).alias("var_5pct"),
            F.sum(
                F.when(F.col("rn") <= F.col("k"), F.col("d")).otherwise(0)
            ).alias("tail_sum"),
        )
        .select(
            "n_deltas",
            "var_5pct",
            r6(
                F.col("tail_sum") / F.col("k").cast("double") / 100.0
            ).alias("cvar_5pct"),
        )
    )


# ---------------------------------------------------------------------------
# text_burrows_delta — stylometric distance between corpus sources
# ---------------------------------------------------------------------------

_BD_TOPK = 20

_BD_ORACLE = f"""
WITH words AS (
    SELECT source, lower(unnest(string_split(text, ' '))) AS w
    FROM documents
),
topw AS (
    SELECT w FROM words GROUP BY w
    ORDER BY COUNT(*) DESC, w ASC LIMIT {_BD_TOPK}
),
ntok AS (SELECT source, COUNT(*) AS nt FROM words GROUP BY 1),
cnt AS (
    SELECT source, w, COUNT(*) AS c FROM words
    WHERE w IN (SELECT w FROM topw) GROUP BY 1, 2
),
dense AS (
    SELECT n.source, t.w,
           1000.0 * COALESCE(c.c, 0) / n.nt AS f
    FROM ntok n CROSS JOIN topw t
    LEFT JOIN cnt c ON c.source = n.source AND c.w = t.w
),
z AS (
    SELECT source, w,
           (f - AVG(f) OVER (PARTITION BY w))
             / stddev_pop(f) OVER (PARTITION BY w) AS z
    FROM dense
),
pairs AS (
    SELECT a.source AS source_a, b.source AS source_b,
           SUM(abs(a.z - b.z)) / {_BD_TOPK} AS delta
    FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
    GROUP BY 1, 2
)
SELECT source_a, source_b,
       floor(delta * 1e6 + 0.5) / 1e6 AS delta
FROM pairs
"""


@query("text_burrows_delta", _BD_ORACLE)
def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta between every pair of corpus sources: z-score the
    per-mille rates of the top-{_BD_TOPK} function words across
    sources, then Delta(a,b) = mean |z_a - z_b| — the classic
    stylometric authorship/provenance distance, and the STYLE
    companion to `corpus_kl_divergence_drift`'s content divergence
    (function-word usage survives topic shifts; topic words don't).
    Everything is bounded by construction: the top-word list is picked
    on exact integer counts (word tie-break) and broadcast; per-source
    token totals and dense (source x word) rates are |sources|*K rows
    (missing cells explicitly zero-filled via the cross join — a
    source that never uses a word is stylometric signal, not missing
    data); z-normalization windows partition by word over the
    |sources|-row axis; and the pair matrix is a broadcast self-join
    of the z relation on the word key. One corpus scan for counts,
    one for totals; all floats are identical expression trees rounded
    1e-6.
    """
    docs = read_table(spark, sf_dir, "documents")
    words = docs.select(
        "source", F.explode(F.split("text", " ")).alias("w0")
    ).select("source", F.lower("w0").alias("w"))
    topw = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(_BD_TOPK)
        .select("w")
        .transform(_pin_lazy)
    )
    ntok = words.groupBy("source").agg(F.count(F.lit(1)).alias("nt"))
    cnt = (
        words.join(F.broadcast(topw), "w")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    dense = (
        ntok.join(F.broadcast(topw.select(F.col("w").alias("tw"))))
        .join(
            cnt,
            (cnt["source"] == ntok["source"]) & (cnt["w"] == F.col("tw")),
            "left",
        )
        .select(
            ntok["source"].alias("source"),
            F.col("tw").alias("w"),
            (1000.0 * F.coalesce(F.col("c"), F.lit(0)) / F.col("nt")).alias(
                "f"
            ),
        )
    )
    wword = Window.partitionBy("w")
    z = dense.select(
        "source",
        "w",
        (
            (F.col("f") - F.avg("f").over(wword))
            / F.stddev_pop("f").over(wword)
        ).alias("z"),
    )
    a = z.select(
        F.col("source").alias("source_a"), "w", F.col("z").alias("za")
    )
    b = z.select(
        F.col("source").alias("source_b"),
        F.col("w").alias("wb"),
        F.col("z").alias("zb"),
    )
    pairs = (
        a.join(
            F.broadcast(b),
            (F.col("w") == F.col("wb"))
            & (F.col("source_a") < F.col("source_b")),
        )
        .groupBy("source_a", "source_b")
        .agg((F.sum(F.abs(F.col("za") - F.col("zb"))) / _BD_TOPK).alias("d"))
    )
    return pairs.select("source_a", "source_b", r6(F.col("d")).alias("delta"))


# ---------------------------------------------------------------------------
# spatial_dbscan_core — density census without choosing k
# ---------------------------------------------------------------------------

_DB_GRID = 1000
_DB_EPS = 80  # cell side = eps; 3x3 neighborhood covers the radius
_DB_MINPTS = 3


def _dbscan_oracle() -> str:
    return f"""
WITH pts AS (
    SELECT c_custkey AS id,
           (c_custkey * 7919) % {_DB_GRID} AS x,
           (c_custkey * 104729) % {_DB_GRID} AS y
    FROM customer
),
nbr AS (
    SELECT a.id, COUNT(*) AS nn
    FROM pts a JOIN pts b
      ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
         <= {_DB_EPS * _DB_EPS}
    GROUP BY 1
),
labeled AS (
    SELECT id, nn >= {_DB_MINPTS} AS is_core FROM nbr
),
border AS (
    SELECT DISTINCT p.id
    FROM pts p
    JOIN labeled l ON p.id = l.id AND NOT l.is_core
    JOIN pts c ON c.id IN (SELECT id FROM labeled WHERE is_core)
      AND (p.x - c.x) * (p.x - c.x) + (p.y - c.y) * (p.y - c.y)
          <= {_DB_EPS * _DB_EPS}
)
SELECT (SELECT COUNT(*) FROM pts) AS n_points,
       (SELECT COUNT(*) FROM labeled WHERE is_core) AS n_core,
       (SELECT COUNT(*) FROM border) AS n_border,
       (SELECT COUNT(*) FROM pts)
         - (SELECT COUNT(*) FROM labeled WHERE is_core)
         - (SELECT COUNT(*) FROM border) AS n_noise
"""


@query("spatial_dbscan_core", _dbscan_oracle())
def spatial_dbscan_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN point classification census (core / border / noise) over
    the synthetic customer plane (key-derived integer coordinates, the
    `join_spatial_grid` convention) with eps={_DB_EPS},
    minPts={_DB_MINPTS} — the density structure that `ml_kmeans_lloyd`
    cannot see (no k, no convexity assumption; noise is a first-class
    outcome, which makes this the spatial analog of the dedup-funnel's
    "what survives" accounting). The oracle is the O(n^2) cross-join
    definition; THIS plan is the scalable rewrite applied twice: bucket
    to eps-sized grid cells, replicate one side to its 3x3 cell
    neighborhood (bounded 9x fan-out guarantees every within-eps pair
    co-locates), hash equi-join on the cell key with the exact integer
    distance predicate inside — first to count eps-neighbors (core =
    count >= minPts, self included), then to test non-core points for
    a core neighbor (border). Coordinates and eps^2 are BIGINT
    end-to-end, so the census is exact; expected work is n x
    neighborhood density, linear in the fact at fixed density.
    """
    eps2 = _DB_EPS * _DB_EPS
    pts = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * 7919) % _DB_GRID).alias("x"),
        ((F.col("c_custkey") * 104729) % _DB_GRID).alias("y"),
    ).transform(_pin_lazy)

    def with_cell(df: DataFrame, px: str, py: str) -> DataFrame:
        return df.select(
            "*",
            F.floor(F.col(px) / _DB_EPS).cast("long").alias("cx"),
            F.floor(F.col(py) / _DB_EPS).cast("long").alias("cy"),
        )

    def replicated(df: DataFrame) -> DataFrame:
        # 3x3 neighborhood fan-out of the probe side
        offs = F.expr("explode(sequence(-1, 1))")
        return (
            with_cell(df, "x", "y")
            .select("*", offs.alias("dx"))
            .select("*", F.expr("explode(sequence(-1, 1))").alias("dy"))
            .select(
                F.col("id").alias("bid"),
                F.col("x").alias("bx"),
                F.col("y").alias("by"),
                (F.col("cx") + F.col("dx")).alias("cx"),
                (F.col("cy") + F.col("dy")).alias("cy"),
            )
        )
    dist2 = (F.col("x") - F.col("bx")) * (F.col("x") - F.col("bx")) + (
        F.col("y") - F.col("by")
    ) * (F.col("y") - F.col("by"))
    nbr = (
        with_cell(pts, "x", "y")
        .join(replicated(pts), ["cx", "cy"])
        .where(dist2 <= eps2)
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("nn"))
    )
    labeled = nbr.select(
        "id", (F.col("nn") >= _DB_MINPTS).alias("is_core")
    ).transform(_pin_lazy)
    core_pts = pts.join(
        labeled.where(F.col("is_core")).select("id"), "id"
    )
    noncore_pts = pts.join(
        labeled.where(~F.col("is_core")).select("id"), "id"
    )
    border = (
        with_cell(noncore_pts, "x", "y")
        .join(replicated(core_pts), ["cx", "cy"])
        .where(dist2 <= eps2)
        .select("id")
        .distinct()
    )
    n_points = pts.agg(F.count(F.lit(1)).alias("n_points"))
    n_core = labeled.where(F.col("is_core")).agg(
        F.count(F.lit(1)).alias("n_core")
    )
    n_border = border.agg(F.count(F.lit(1)).alias("n_border"))
    return (
        n_points.join(F.broadcast(n_core))
        .join(F.broadcast(n_border))
        .select(
            "n_points",
            "n_core",
            "n_border",
            (
                F.col("n_points") - F.col("n_core") - F.col("n_border")
            ).alias("n_noise"),
        )
    )
