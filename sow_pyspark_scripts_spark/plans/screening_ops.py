"""Screening tier: large-scale yes/no decisions — which entity pairs
are spatially near, which segments stay significant after
multiple-testing control, which quasi-identifier groups leak a
sensitive attribute, which model generalizes out-of-fold. Each is the
scalable form of a screen that is usually written as a cross join, a
p-value for-loop, or a per-fold re-read.

Scale notes baked into each builder:
- the spatial radius join NEVER cross-joins: both sides key to integer
  grid cells sized to the radius, the smaller side replicates to its
  3x3 neighborhood (bounded 9x fan-out, like the LSH band trick in
  ``dedup_minhash_lsh``), and the join is a plain hash equi-join on
  the cell key; the exact distance predicate filters inside the
  matched cell pairs. Coordinates are integers end-to-end, so the
  distance threshold is bigint-exact — no float boundary flapping
  between engines. The DuckDB oracle IS the naive cross join: same
  semantics, quadratic plan — the gap is the point;
- BH-FDR runs on a per-(event_type, weekday) rollup: one conditional
  hash aggregate computes cell moments, per-type global moments are a
  second aggregate of the rollup joined back broadcast; the normal CDF
  is the Zelen-Severo rational approximation written with the SAME
  double formula on both engines (exp only — no erf dependency), and
  the step-up cutoff is one tiny window over ~56 hypotheses;
- t-closeness densifies each group's sensitive histogram onto a
  generated 10-band spine (a broadcast calendar-style dimension, so
  prefix sums see the zero bands), then the ordered-EMD is two keyed
  prefix windows over a (groups x 10)-row relation — fact rows are
  touched once, in the first hash aggregate;
- k-fold CV fits ALL folds from ONE aggregation pass: per-fold
  sufficient statistics (n, Sx, Sy, Sxx, Sxy, Syy in exact
  decimal/hugeint) subtract from the global sums to give each fold's
  complement-trained OLS, and the held-out SSE expands algebraically
  from the same per-fold stats — no second scan, no per-fold re-read
  of the fact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.det import r6
from ..registry import query
from .sql_common import _p_two_sided  # noqa: F401 — re-exported for compat
from ..sources import read_table


# ---------------------------------------------------------------------------
# join_spatial_grid — radius join via grid blocking (no cross join)
# ---------------------------------------------------------------------------

_GRID = 10_000  # world size per axis (integer units)
_R = 150  # radius in the same units; also the cell size
_R2 = _R * _R

_SPATIAL_ORACLE = f"""
WITH c AS (
    SELECT c_custkey,
           (c_custkey * 7919) % {_GRID} AS cx,
           (c_custkey * 104729) % {_GRID} AS cy
    FROM customer
),
s AS (
    SELECT s_suppkey,
           (s_suppkey * 7919 + 4567) % {_GRID} AS sx,
           (s_suppkey * 104729 + 8923) % {_GRID} AS sy
    FROM supplier
)
SELECT c.c_custkey, s.s_suppkey,
       (c.cx - s.sx) * (c.cx - s.sx) + (c.cy - s.sy) * (c.cy - s.sy) AS dist2
FROM c, s
WHERE (c.cx - s.sx) * (c.cx - s.sx) + (c.cy - s.sy) * (c.cy - s.sy) <= {_R2}
"""


@query("join_spatial_grid", _SPATIAL_ORACLE)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All (customer, supplier) pairs within radius {_R} on a synthetic
    integer plane (coordinates derived deterministically from keys —
    stand-ins for geocoded warehouse/customer locations). The oracle is
    the naive formulation: a cross join with a distance predicate —
    O(n*m) and unrunnable at 100 TB. This plan is the scalable
    rewrite: both sides bucket to grid cells of side = radius, the
    small side replicates to its 3x3 cell neighborhood (bounded 9x
    fan-out — any point within R of a point in cell (i,j) lies in the
    3x3 block around (i,j)), and the join becomes a hash equi-join on
    the cell key with the exact predicate evaluated only inside
    matched cells. Expected work is n·(density of one neighborhood),
    linear in the fact at fixed density. Coordinates and the squared
    distance are bigint end-to-end — the threshold compare is exact,
    so Spark and the cross-join oracle agree pair-for-pair. The same
    shape handles geohash/H3 radius joins and embedding-grid blocking.
    """
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 7919) % _GRID).alias("cx"),
        ((F.col("c_custkey") * 104729) % _GRID).alias("cy"),
    )
    supp = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 7919 + 4567) % _GRID).alias("sx"),
        ((F.col("s_suppkey") * 104729 + 8923) % _GRID).alias("sy"),
    )
    # supplier (smaller side) replicated to its 3x3 neighborhood
    off = F.array(*[F.lit(d) for d in (-1, 0, 1)])
    supp_cells = (
        supp.withColumn("dx", F.explode(off))
        .withColumn("dy", F.explode(off))
        .select(
            "s_suppkey",
            "sx",
            "sy",
            (F.floor(F.col("sx") / _R) + F.col("dx")).alias("cell_x"),
            (F.floor(F.col("sy") / _R) + F.col("dy")).alias("cell_y"),
        )
    )
    cust_cells = cust.select(
        "c_custkey",
        "cx",
        "cy",
        F.floor(F.col("cx") / _R).alias("cell_x"),
        F.floor(F.col("cy") / _R).alias("cell_y"),
    )
    d2 = (F.col("cx") - F.col("sx")) * (F.col("cx") - F.col("sx")) + (
        F.col("cy") - F.col("sy")
    ) * (F.col("cy") - F.col("sy"))
    return (
        cust_cells.join(F.broadcast(supp_cells), ["cell_x", "cell_y"])
        .where(d2 <= _R2)
        .select("c_custkey", "s_suppkey", d2.alias("dist2"))
    )


# ---------------------------------------------------------------------------
# stats_bh_fdr — Benjamini-Hochberg step-up over segment-mean z-tests
# ---------------------------------------------------------------------------

_Q_NUM, _Q_DEN = 1, 10  # FDR level q = 0.10 as an exact fraction

# Zelen & Severo (A&S 26.2.17) tail approximation, identical text in
# both engines: P(Z > z) for z >= 0.
_BH_ORACLE = f"""
WITH cells AS (
    SELECT event_type, isodow(ts) - 1 AS dow,
           COUNT(*) AS n,
           SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS s,
           SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)
               * CAST(floor(value * 100 + 0.5) AS BIGINT)) AS ss
    FROM events
    GROUP BY 1, 2
),
gstats AS (
    SELECT event_type,
           SUM(n) AS gn, SUM(s) AS gs, SUM(ss) AS gss
    FROM cells GROUP BY 1
),
z AS (
    SELECT c.event_type, c.dow, c.n,
           (CAST(c.s AS DOUBLE) / c.n - CAST(g.gs AS DOUBLE) / g.gn)
           / (sqrt((CAST(g.gss AS DOUBLE) / g.gn
                    - (CAST(g.gs AS DOUBLE) / g.gn)
                      * (CAST(g.gs AS DOUBLE) / g.gn)) )
              / sqrt(CAST(c.n AS DOUBLE))) AS zval
    FROM cells c JOIN gstats g USING (event_type)
),
p AS (
    SELECT event_type, dow, n, zval,
           {_p_two_sided('zval')} AS pval,
           COUNT(*) OVER () AS m
    FROM z
),
ranked AS (
    SELECT *,
           ROW_NUMBER() OVER (ORDER BY pval, event_type, dow) AS rnk
    FROM p
),
cut AS (
    SELECT *,
           MAX(CASE WHEN pval * m * {_Q_DEN} <= rnk * {_Q_NUM}
                    THEN rnk ELSE 0 END) OVER () AS kstar
    FROM ranked
)
SELECT event_type, dow, n,
       floor(zval * 1e6 + 0.5) / 1e6 AS z,
       floor(pval * 1e6 + 0.5) / 1e6 AS p,
       rnk <= kstar AS rejected
FROM cut
"""


@query("stats_bh_fdr", _BH_ORACLE)
def stats_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control across the full segment grid:
    every (event_type, weekday) cell z-tests its mean `value` against
    the event_type's global mean, and the step-up procedure marks
    which cells survive at q=0.10 — the guard every metrics platform
    needs once it tests 50+ segments per ingest (uncorrected, ~5% of
    null cells "fire" every day). One conditional hash aggregate over
    the fact builds exact integer-cent moments per cell; per-type
    global moments aggregate the ~56-row rollup and broadcast back.
    The normal tail probability is the Zelen-Severo rational
    approximation — the SAME double formula (exp only) evaluated by
    both engines, so p-values agree to ulps. The BH cutoff
    (max rank with p <= rank·q/m) is a running-max window over the
    rollup, with the q threshold held as an exact integer fraction.
    z and p round to 1e-6 for the hash; the reject decision compares
    unrounded doubles computed identically on both sides.
    """
    ev = read_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    cells = ev.groupBy(
        "event_type", F.weekday("ts").cast("long").alias("dow")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("s"),
        F.sum(cents * cents).alias("ss"),
    )
    glob = cells.groupBy("event_type").agg(
        F.sum("n").alias("gn"), F.sum("s").alias("gs"), F.sum("ss").alias("gss")
    )
    gmean = F.col("gs").cast("double") / F.col("gn")
    gsd = F.sqrt(F.col("gss").cast("double") / F.col("gn") - gmean * gmean)
    z = cells.join(F.broadcast(glob), "event_type").select(
        "event_type",
        "dow",
        "n",
        (
            (F.col("s").cast("double") / F.col("n") - gmean)
            / (gsd / F.sqrt(F.col("n").cast("double")))
        ).alias("zval"),
    )
    p = z.select(
        "*", F.expr(_p_two_sided("zval")).alias("pval")
    ).withColumn("m", F.count(F.lit(1)).over(Window.partitionBy()))
    ranked = p.withColumn(
        "rnk", F.row_number().over(Window.orderBy("pval", "event_type", "dow"))
    )
    cut = ranked.withColumn(
        "kstar",
        F.max(
            F.when(
                F.col("pval") * F.col("m") * _Q_DEN <= F.col("rnk") * _Q_NUM,
                F.col("rnk"),
            ).otherwise(0)
        ).over(Window.partitionBy()),
    )
    return cut.select(
        "event_type",
        "dow",
        "n",
        r6(F.col("zval")).alias("z"),
        r6(F.col("pval")).alias("p"),
        (F.col("rnk") <= F.col("kstar")).alias("rejected"),
    )


# ---------------------------------------------------------------------------
# dq_t_closeness — ordered-EMD privacy screen (completes k-anon, l-div)
# ---------------------------------------------------------------------------

_BANDS = 10
_T_NUM, _T_DEN = 15, 100  # closeness threshold t = 0.15

_TCLOSE_ORACLE = f"""
WITH banded AS (
    SELECT c_mktsegment, c_nationkey,
           least({_BANDS} - 1, greatest(0,
               (CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 100000)
               // 110000)) AS band
    FROM customer
),
grp_band AS (
    SELECT c_mktsegment, c_nationkey, band, COUNT(*) AS nb
    FROM banded GROUP BY 1, 2, 3
),
grp AS (
    SELECT c_mktsegment, c_nationkey, SUM(nb) AS ng
    FROM grp_band GROUP BY 1, 2
),
gstats AS (
    SELECT band, SUM(nb) AS mb FROM grp_band GROUP BY 1
),
tot AS (SELECT SUM(nb) AS n FROM grp_band),
spine AS (
    SELECT g.c_mktsegment, g.c_nationkey, g.ng, b.band,
           COALESCE(gb.nb, 0) AS nb
    FROM grp g
    CROSS JOIN (SELECT UNNEST(generate_series(0, {_BANDS} - 1)) AS band) b
    LEFT JOIN grp_band gb
      ON gb.c_mktsegment = g.c_mktsegment
     AND gb.c_nationkey = g.c_nationkey AND gb.band = b.band
),
prefixed AS (
    SELECT s.c_mktsegment, s.c_nationkey, s.ng, s.band,
           SUM(s.nb) OVER (PARTITION BY s.c_mktsegment, s.c_nationkey
                           ORDER BY s.band
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_g,
           SUM(COALESCE(gl.mb, 0)) OVER (
               PARTITION BY s.c_mktsegment, s.c_nationkey ORDER BY s.band
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_all,
           t.n
    FROM spine s LEFT JOIN gstats gl ON s.band = gl.band CROSS JOIN tot t
)
SELECT c_mktsegment, c_nationkey, MAX(ng) AS n_group,
       floor(SUM(CASE WHEN band < {_BANDS} - 1
                      THEN abs(CAST(cum_g AS DOUBLE) / ng
                               - CAST(cum_all AS DOUBLE) / n)
                      ELSE 0 END) / ({_BANDS} - 1) * 1e6 + 0.5) / 1e6 AS emd,
       SUM(CASE WHEN band < {_BANDS} - 1
                THEN abs(CAST(cum_g AS DOUBLE) / ng
                         - CAST(cum_all AS DOUBLE) / n)
                ELSE 0 END) / ({_BANDS} - 1) * {_T_DEN} > {_T_NUM}
           AS breach
FROM prefixed
GROUP BY 1, 2
"""


@query("dq_t_closeness", _TCLOSE_ORACLE)
def dq_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness screen completing the privacy trio (`dq_k_anonymity`,
    `dq_l_diversity`): for each quasi-identifier group (segment x
    nation), the Earth-Mover's Distance between the group's
    account-balance band distribution and the global one — ordered
    categories, so EMD reduces to the mean absolute gap between the
    two cumulative distributions. A group whose balances skew far from
    global (EMD > 0.15) leaks the sensitive attribute even if it is
    k-anonymous and l-diverse. The fact is touched ONCE (hash
    aggregate to (group, band) counts with exact integer-cent band
    assignment); the 10-band spine is generated and cross-joined onto
    the ~125-row group list so prefix sums see zero bands; the EMD is
    two keyed prefix windows + one re-aggregate over a (groups x 10)
    relation. The breach flag compares an exact-integer-scaled
    threshold (t = 15/100), not a rounded float.
    """
    cust = read_table(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
    banded = cust.select(
        "c_mktsegment",
        "c_nationkey",
        F.least(
            F.lit(_BANDS - 1),
            F.greatest(F.lit(0), F.expr(
                f"(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 100000)"
                f" div 110000"
            )),
        ).alias("band"),
    )
    grp_band = banded.groupBy("c_mktsegment", "c_nationkey", "band").agg(
        F.count(F.lit(1)).alias("nb")
    )
    grp = grp_band.groupBy("c_mktsegment", "c_nationkey").agg(
        F.sum("nb").alias("ng")
    )
    glob = grp_band.groupBy("band").agg(F.sum("nb").alias("mb"))
    tot = grp_band.agg(F.sum("nb").alias("n"))
    bands = spark.range(_BANDS).select(F.col("id").alias("band"))
    gb = grp_band.select(
        F.col("c_mktsegment").alias("b_seg"),
        F.col("c_nationkey").alias("b_nat"),
        F.col("band").alias("b_band"),
        "nb",
    )
    spine = (
        grp.join(F.broadcast(bands))
        .join(
            gb,
            (F.col("b_seg") == F.col("c_mktsegment"))
            & (F.col("b_nat") == F.col("c_nationkey"))
            & (F.col("b_band") == F.col("band")),
            "left",
        )
        .select(
            "c_mktsegment",
            "c_nationkey",
            "ng",
            "band",
            F.coalesce(F.col("nb"), F.lit(0)).alias("nb"),
        )
    )
    w = (
        Window.partitionBy("c_mktsegment", "c_nationkey")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prefixed = (
        spine.join(F.broadcast(glob), "band", "left")
        .join(F.broadcast(tot))
        .select(
            "c_mktsegment",
            "c_nationkey",
            "ng",
            "band",
            F.sum("nb").over(w).alias("cum_g"),
            F.sum(F.coalesce(F.col("mb"), F.lit(0))).over(w).alias("cum_all"),
            "n",
        )
    )
    gap = F.when(
        F.col("band") < _BANDS - 1,
        F.abs(
            F.col("cum_g").cast("double") / F.col("ng")
            - F.col("cum_all").cast("double") / F.col("n")
        ),
    ).otherwise(0.0)
    return prefixed.groupBy("c_mktsegment", "c_nationkey").agg(
        F.max("ng").alias("n_group"),
        r6(F.sum(gap) / (_BANDS - 1)).alias("emd"),
        (F.sum(gap) / (_BANDS - 1) * _T_DEN > _T_NUM).alias("breach"),
    )


# ---------------------------------------------------------------------------
# ml_cv_fold_ols — k-fold cross-validation from ONE aggregation pass
# ---------------------------------------------------------------------------

_K = 5

_CV_ORACLE = f"""
WITH pts AS (
    SELECT (l_orderkey * 2654435761) % 97 % {_K} AS fold,
           CAST(l_quantity AS BIGINT) AS x,
           CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
    FROM lineitem
),
per_fold AS (
    SELECT fold, COUNT(*) AS n,
           SUM(x) AS sx, SUM(y) AS sy,
           SUM(CAST(x AS HUGEINT) * x) AS sxx,
           SUM(CAST(x AS HUGEINT) * y) AS sxy,
           SUM(CAST(y AS HUGEINT) * y) AS syy
    FROM pts GROUP BY 1
),
tot AS (
    SELECT SUM(n) AS tn, SUM(sx) AS tsx, SUM(sy) AS tsy,
           SUM(sxx) AS tsxx, SUM(sxy) AS tsxy
    FROM per_fold
),
fit AS (
    SELECT f.fold, f.n, f.sx, f.sy, f.sxx, f.sxy, f.syy,
           CAST(t.tn - f.n AS DOUBLE) AS nt,
           CAST(t.tsx - f.sx AS DOUBLE) AS sxt,
           CAST(t.tsy - f.sy AS DOUBLE) AS syt,
           CAST(t.tsxx - f.sxx AS DOUBLE) AS sxxt,
           CAST(t.tsxy - f.sxy AS DOUBLE) AS sxyt
    FROM per_fold f CROSS JOIN tot t
),
coef AS (
    SELECT fold, n, sx, sy, sxx, sxy, syy,
           (nt * sxyt - sxt * syt) / (nt * sxxt - sxt * sxt) AS b,
           (syt - (nt * sxyt - sxt * syt) / (nt * sxxt - sxt * sxt) * sxt)
               / nt AS a
    FROM fit
)
SELECT fold, n AS n_test,
       floor(b * 1e6 + 0.5) / 1e6 AS slope,
       floor(a / 100 * 1e4 + 0.5) / 1e4 AS intercept,
       floor(sqrt((CAST(syy AS DOUBLE) - 2 * a * CAST(sy AS DOUBLE)
                   - 2 * b * CAST(sxy AS DOUBLE)
                   + CAST(n AS DOUBLE) * a * a
                   + 2 * a * b * CAST(sx AS DOUBLE)
                   + b * b * CAST(sxx AS DOUBLE)) / n) / 100 * 1e4 + 0.5)
           / 1e4 AS rmse_test
FROM coef
ORDER BY fold
"""


@query("ml_cv_fold_ols", _CV_ORACLE)
def ml_cv_fold_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validated OLS (extendedprice ~ quantity) where ALL
    five fold models AND their held-out RMSEs come from ONE aggregation
    pass. The textbook CV harness re-reads the training set k times;
    at 100 TB that is k full scans. Here each fold accumulates exact
    sufficient statistics (n, Σx, Σy, Σx², Σxy, Σy² — int128/decimal
    accumulators, so sums are order-independent and engine-exact), the
    complement (train) statistics are global-minus-fold differences of
    those 5 rows, the normal-equation slope/intercept come from the
    complement, and the held-out SSE expands algebraically as
    Σ(y-a-bx)² = Syy - 2aSy - 2bSxy + na² + 2abSx + b²Sxx over the
    SAME per-fold stats. Fold assignment is a bigint Knuth-hash —
    deterministic and engine-portable, the same split used by
    `sample_hash_split`. Everything after the single hash aggregate
    runs on 5 rows.
    """
    li = read_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    dec = "decimal(38,0)"
    pts = li.select(
        ((F.col("l_orderkey") * 2654435761) % 97 % _K).alias("fold"),
        x.alias("x"),
        y.alias("y"),
    )
    per_fold = pts.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
        F.sum((F.col("y").cast(dec) * F.col("y"))).alias("syy"),
    )
    # global sums as a window over the K-row rollup — NOT a second
    # aggregate branch, which would re-scan the fact subtree at compile
    # time (exchange reuse only dedupes it at runtime)
    wall = Window.partitionBy()
    f = per_fold.select(
        "*",
        F.sum("n").over(wall).alias("tn"),
        F.sum("sx").over(wall).alias("tsx"),
        F.sum("sy").over(wall).alias("tsy"),
        F.sum("sxx").over(wall).alias("tsxx"),
        F.sum("sxy").over(wall).alias("tsxy"),
    )
    nt = (F.col("tn") - F.col("n")).cast("double")
    sxt = (F.col("tsx") - F.col("sx")).cast("double")
    syt = (F.col("tsy") - F.col("sy")).cast("double")
    sxxt = (F.col("tsxx") - F.col("sxx")).cast("double")
    sxyt = (F.col("tsxy") - F.col("sxy")).cast("double")
    b = (nt * sxyt - sxt * syt) / (nt * sxxt - sxt * sxt)
    a = (syt - b * sxt) / nt
    sse = (
        F.col("syy").cast("double")
        - 2 * a * F.col("sy").cast("double")
        - 2 * b * F.col("sxy").cast("double")
        + F.col("n").cast("double") * a * a
        + 2 * a * b * F.col("sx").cast("double")
        + b * b * F.col("sxx").cast("double")
    )
    return f.select(
        "fold",
        F.col("n").alias("n_test"),
        r6(b).alias("slope"),
        (F.floor(a / 100 * 1e4 + F.lit(0.5)) / 1e4).alias("intercept"),
        (
            F.floor(F.sqrt(sse / F.col("n")) / 100 * 1e4 + F.lit(0.5)) / 1e4
        ).alias("rmse_test"),
    ).orderBy("fold")
